package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import scala.collection.concurrent.TrieMap

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory these queries cover.
  *
  * Every SQL-surface entry goes through the full graft pipeline
  * (Lexer → Parser → Translator → Spark logical plan), NOT through
  * spark.sql — the oracle comparison therefore exercises the engine,
  * not Spark's own SQL front-end.
  */
object SparkEntry {

  private val sessions = TrieMap.empty[(SparkSession, String), Graft]
  private def graftFor(s: SparkSession, dir: String): Graft =
    sessions.getOrElseUpdate((s, dir), Graft.forDir(s, dir))

  /** Queries whose graft-dialect SQL is ALSO valid DuckDB SQL: one
    * string serves as both the engine input and the oracle. */
  private val sharedSql: Seq[(String, String)] = Seq(
    // --- projection / aliasing / qualification (SURVEY §2.1 rows 1-4)
    "q_select_star" ->
      "select * from region",
    "q_select_cols" ->
      "select l_orderkey, l_linenumber, l_quantity, l_extendedprice from lineitem",
    "q_alias" ->
      "select l_orderkey, l_quantity qty, l_extendedprice as price from lineitem",
    "q_qualified" ->
      "select t1.n_name, t1.n_regionkey from nation t1 where t1.n_regionkey < 3",
    "q_distinct" ->
      "select distinct l_returnflag, l_linestatus from lineitem",
    // --- predicates (rows 5-10)
    "q_where_cmp" ->
      "select l_orderkey, l_linenumber from lineitem where l_quantity > 45 and l_discount <= 0.05",
    "q_bool_ops" ->
      """select l_orderkey, l_linenumber from lineitem
         where (l_quantity > 40 or l_discount < 0.02) and l_tax > 0.04""",
    "q_between" ->
      "select l_orderkey, l_linenumber, l_quantity from lineitem where l_quantity between 10 and 12",
    "q_in_list" ->
      "select n_name from nation where n_name in ('CHINA', 'INDIA', 'FRANCE')",
    // row-value comparisons (r9): graft desugars lexicographically,
    // DuckDB compares the implicit struct field-wise — identical on
    // the NON-NULL columns used here (null members diverge: struct
    // equality treats NULL as a value, the standard says UNKNOWN —
    // pinned in SqlSurfaceSpec, nulls stay out of shared oracles)
    "q_row_cmp" ->
      """select count(*) as n,
           cast(sum(case when (l_returnflag, l_linestatus) >= ('N', 'O')
               then 1 else 0 end) as bigint) as n_ge,
           cast(sum(case when (l_quantity, l_extendedprice) < (30.0, 40000.0)
               then 1 else 0 end) as bigint) as n_lt,
           cast(sum(case when (l_returnflag, l_linestatus) = ('R', 'F')
               then 1 else 0 end) as bigint) as n_eq,
           cast(sum(case when (l_suppkey, l_partkey) <> (l_partkey, l_suppkey)
               then 1 else 0 end) as bigint) as n_ne
         from lineitem""",
    // tuple IN (list of tuples) — shared text, OR-of-equalities in
    // graft, struct IN in DuckDB (non-null columns, so identical)
    "q_in_tuple_list" ->
      """select n_name from nation
         where (n_regionkey, n_nationkey % 7) in ((1, 1), (2, 5), (4, 0))""",
    "q_in_subquery" ->
      """select c_custkey, c_name from customer
         where c_nationkey in (select n_nationkey from nation where n_regionkey = 2)""",
    // IN (subquery) under OR — non-conjunct position, lowered via an
    // existence-flag join rather than a semi-join (sql.lark:118-130)
    "q_in_subquery_or" ->
      """select c_custkey, c_name from customer
         where c_nationkey in (select n_nationkey from nation where n_regionkey = 2)
            or c_acctbal < 100""",
    // NOT IN under OR exercises the three-valued existence flag path
    "q_in_subquery_not_or" ->
      """select c_custkey from customer
         where c_nationkey not in (select n_nationkey from nation where n_regionkey < 3)
            or c_acctbal >= 9000""",
    // correlated [NOT] EXISTS (graft dialect; semi/anti-join lowering
    // with the correlated conjunct as the join key)
    "q_exists" ->
      """select c_custkey, c_name from customer
         where exists (select 1 from orders
                       where orders.o_custkey = customer.c_custkey
                         and orders.o_totalprice > 400000)""",
    "q_not_exists" ->
      """select c_custkey from customer
         where not exists (select 1 from orders
                           where orders.o_custkey = customer.c_custkey)
           and c_acctbal > 0""",
    // correlated NOT IN — anti-join with null arms inside the
    // correlation group (3VL); empty groups keep the row (TRUE)
    "q_not_in_corr" ->
      """select c_custkey from customer
         where c_custkey not in (select o_custkey from orders
                                 where orders.o_custkey = customer.c_custkey
                                   and orders.o_totalprice < 50000)
           and c_acctbal > 5000""",
    // correlated EXISTS in a non-conjunct position (under OR) —
    // dedup-by-correlation-key presence flag, never NULL
    "q_exists_or" ->
      """select n_nationkey, n_name from nation
         where exists (select 1 from customer
                       where customer.c_nationkey = nation.n_nationkey
                         and customer.c_acctbal > 9500)
            or n_regionkey = 4""",
    // correlated EXISTS with a non-equality (theta/range) conjunct in
    // conjunct position — the "any earlier/bigger event" shape; the
    // range predicate becomes part of the semi-join condition
    "q_exists_theta" ->
      """select c_custkey, c_name from customer
         where exists (select 1 from orders
                       where orders.o_custkey = customer.c_custkey
                         and orders.o_totalprice > customer.c_acctbal * 50)
           and c_acctbal > 0""",
    // correlated IN with an equality key plus a range conjunct in
    // conjunct position (semi-join carries the theta condition)
    "q_in_theta" ->
      """select c_custkey from customer
         where c_custkey in (select o_custkey from orders
                             where orders.o_custkey = customer.c_custkey
                               and orders.o_totalprice > customer.c_acctbal * 10)""",
    // theta EXISTS in flag position (under OR): decorrelated through
    // the per-group max (∃ t > x ⟺ max(t) > x)
    "q_exists_theta_or" ->
      """select n_nationkey, n_name from nation
         where exists (select 1 from customer
                       where customer.c_nationkey = nation.n_nationkey
                         and customer.c_acctbal > nation.n_regionkey * 2000)
            or n_regionkey = 0""",
    // theta IN in flag position (under OR) — the 3VL existence flag
    // with min/max-decorrelated range arms
    "q_in_theta_or" ->
      """select c_custkey from customer
         where c_custkey in (select o_custkey from orders
                             where orders.o_custkey = customer.c_custkey
                               and orders.o_totalprice > customer.c_acctbal * 20)
            or c_acctbal > 9990""",
    // <> correlation in flag position: "another line of the same
    // order from a DIFFERENT supplier exists" — decorrelated through
    // the per-group (count, min, max) triple
    "q_exists_ne_flag" ->
      """select l_orderkey, l_linenumber,
           exists (select 1 from lineitem l2
                   where l2.l_orderkey = lineitem.l_orderkey
                     and l2.l_suppkey <> lineitem.l_suppkey) as multi_supp
         from lineitem""",
    // projected theta IN flag with a null-bearing key set: the null
    // arm of the 3VL table must also respect the range condition
    "q_in_theta_select" ->
      """select n_nationkey,
           n_nationkey in (select nullif(c_custkey % 25, 7) from customer
                           where customer.c_nationkey = nation.n_nationkey
                             and customer.c_acctbal > nation.n_regionkey * 1000) as f
         from nation""",
    // correlated EXISTS whose inner query AGGREGATES (GROUP BY +
    // HAVING) — "has a day with 2+ orders"; decorrelated through the
    // grouped derived-table rewrite, then the plain semi-join lowering
    "q_exists_grouped" ->
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                       group by o.o_orderdate having count(*) >= 2)""",
    // the "more than N related rows" idiom: GROUP-BY-less HAVING
    // aggregate (one row even over empty input) — split into the
    // grouped disjunct plus the h-on-empty guard; count(*) < 3 is
    // TRUE for customers with NO orders, exercising the guard
    "q_exists_having" ->
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                       having count(*) < 3)""",
    // IN against a having-only single-row set: lowered as
    // nonempty-test ∧ probe = correlated scalar. max(o_custkey) per
    // correlation group IS the probe, so this selects customers with
    // more than two orders — nontrivial matches on exact int keys.
    "q_in_having" ->
      """select c_custkey from customer c
         where c.c_custkey in
           (select max(o.o_custkey) from orders o
            where o.o_custkey = c.c_custkey having count(*) > 2)""",
    // correlated IN against a grouped inner with a HAVING aggregate
    // threshold — membership decided per surviving group
    "q_in_grouped" ->
      """select c_custkey, c_acctbal from customer c
         where c.c_custkey in (select o.o_custkey from orders o
                               where o.o_custkey = c.c_custkey
                               group by o.o_custkey
                               having sum(o.o_totalprice) > 200000)""",
    // theta EXISTS with GROUP-BY-less HAVING (r5b): the HAVING
    // aggregates rewrite to theta-correlated scalar subqueries
    // (identical empty semantics); count(*) < 3 keeps customers with
    // NO qualifying orders, exercising the h-on-empty arm
    "q_exists_theta_having" ->
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                         and o.o_totalprice < c.c_acctbal * 50
                       having count(*) > 3)""",
    // theta EXISTS over a bare GROUP BY (r5b): grouping cannot change
    // existence — dropped at rewrite, the plain theta lowering applies
    "q_exists_theta_grouped" ->
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                         and o.o_totalprice < c.c_acctbal * 60
                       group by o.o_orderdate)""",
    // correlated quantified comparison in HAVING (r5b): per-key
    // (count, has-null, min, max) summary left-joined on group keys;
    // ALL reads TRUE against a key's empty set
    "q_having_quant_corr" ->
      """select c.c_nationkey, count(*) as n from customer c
         group by c.c_nationkey
         having count(*) > all (select s.s_suppkey from supplier s
                                where s.s_nationkey = c.c_nationkey
                                  and s.s_acctbal > 500)""",
    // correlated IN in HAVING (r5b): aggregate probe against the
    // per-correlation-key value set — presence/has-null summary plus
    // distinct (key, value) matches, two left joins, standard 3VL
    "q_having_in_corr" ->
      """select c.c_nationkey, count(*) as n from customer c
         group by c.c_nationkey
         having count(*) not in (select s.s_suppkey from supplier s
                                 where s.s_nationkey = c.c_nationkey
                                   and s.s_acctbal > 9990)""",
    // correlated EXISTS in HAVING (r5b): the correlation's outer side
    // is a group key; the existence flag left-joins the inner side's
    // distinct keys onto the aggregated frame
    "q_having_exists_corr" ->
      """select c.c_nationkey, count(*) as n from customer c
         group by c.c_nationkey
         having exists (select 1 from supplier s
                        where s.s_nationkey = c.c_nationkey
                          and s.s_acctbal > 0)""",
    // UNION ALL BY NAME (r5b, DuckDB): name-matched union, either
    // side's missing columns read NULL on the other
    "q_union_byname" ->
      """select n_nationkey as k, n_name as name from nation where n_nationkey < 5
         union all by name
         select r_name as name, r_regionkey as k, 'extra' as note from region""",
    // grouped + HAVING theta EXISTS (r5b): does ANY inner group of
    // the theta-selected rows satisfy h? — per-distinct-outer-tuple
    // survivors semi-joined back
    "q_exists_theta_group_having" ->
      """select c_custkey from customer c
         where exists (select 1 from orders o
                       where o.o_custkey = c.c_custkey
                         and o.o_totalprice < c.c_acctbal * 100
                       group by o.o_orderdate
                       having count(*) >= 2)""",
    // grouped theta NOT IN (r5b): the full 3VL flag — per-tuple
    // presence/has-null summary + distinct matches; empty correlated
    // sets keep the row, UNKNOWN filters
    "q_not_in_theta_grouped" ->
      """select c_custkey from customer c
         where 2 not in (select count(*) from orders o
                         where o.o_custkey = c.c_custkey
                           and o.o_totalprice < c.c_acctbal * 100
                         group by o.o_orderdate)""",
    // grouped theta IN (r5b): membership among per-group aggregate
    // values of the theta-selected rows — surviving (tuple, value)
    // pairs semi-joined on tuple match AND probe = value
    "q_in_theta_grouped" ->
      """select c_custkey from customer c
         where 2 in (select count(*) from orders o
                     where o.o_custkey = c.c_custkey
                       and o.o_totalprice < c.c_acctbal * 100
                     group by o.o_orderdate)""",
    // theta IN over a having-only aggregate set (r5b): membership in
    // the at-most-one-row set = nonempty AND probe = value
    "q_in_theta_having" ->
      """select c_custkey from customer c
         where 2 in (select count(*) from orders o
                     where o.o_custkey = c.c_custkey
                       and o.o_totalprice < c.c_acctbal * 60
                     having count(*) >= 1)""",
    // theta-correlated scalar: aggregate over the rows a range
    // comparison against the outer row selects ("count of earlier
    // lines") — per-distinct-outer-tuple aggregation joined back
    "q_scalar_theta" ->
      """select l_orderkey, l_linenumber,
           (select count(*) from lineitem l2
            where l2.l_orderkey = lineitem.l_orderkey
              and l2.l_linenumber < lineitem.l_linenumber) as earlier
         from lineitem""",
    // GENERAL correlation (r5c): correlation under OR — no key/theta
    // decorrelation exists, so the flag lowers through the DISTINCT
    // outer-tuple join on the FULL condition (a nested-loop join
    // against the tuple table, bounded by |tuples| × |inner|, never
    // |outer| × |inner|)
    "q_exists_or_corr" ->
      """select s_suppkey, s_name,
           exists (select 1 from nation n
                   where n.n_nationkey = s.s_nationkey
                      or n.n_name = s.s_name) as flag
         from supplier s""",
    // OR-correlated IN under OR (flag position, full 3VL membership)
    "q_in_or_corr" ->
      """select c_custkey from customer c
         where c.c_nationkey in (select n.n_regionkey from nation n
                                 where n.n_nationkey = c.c_nationkey
                                    or n.n_name like 'A%')
            or c.c_acctbal < 0""",
    // nested UNCORRELATED scalar inside a general correlated conjunct
    // (r8, the last 36ax wall): the subquery is a query-wide constant
    // — hoisted to a guarded broadcast 1-row column on the inner
    // frame BEFORE the tuple substitution, so the OR-correlation
    // lowers through the same distinct-tuple join
    "q_exists_nested_scalar" ->
      """select c_custkey from customer o
         where exists (select 1 from orders i
                       where i.o_custkey = o.c_custkey
                         and (o.c_acctbal >
                                (select avg(c_acctbal) from customer)
                              or i.o_totalprice < 2000))""",
    // OR-correlated scalar COUNT — per-distinct-outer-tuple aggregate
    "q_scalar_or_corr" ->
      """select s_suppkey,
           (select count(*) from nation n
            where n.n_nationkey = s.s_nationkey
               or n.n_regionkey = s.s_suppkey % 5) as cnt
         from supplier s""",
    // MIXED-side correlated comparison (`l.x + o.y > k` references
    // both sides): no side split exists — the general tuple lowering
    // carries it as a residual of the equality hash join
    "q_scalar_mixed_corr" ->
      """select o_orderkey,
           (select count(*) from lineitem l
            where l.l_orderkey = o.o_orderkey
              and l.l_extendedprice + o.o_totalprice / 10 > 40000) as n
         from orders o""",
    // OR-correlated quantified comparison: the (count, has-null,
    // min, max) summary builds per distinct outer tuple over the
    // full-condition join
    "q_quant_or_corr" ->
      """select s_suppkey,
           s_suppkey * 3 < all (select n.n_nationkey + 50 from nation n
                                where n.n_regionkey = s.s_nationkey % 5
                                   or n.n_name > s.s_name) as flag
         from supplier s""",
    // OR-correlated LATERAL aggregate (multi-column scalar form)
    "q_lateral_or_corr" ->
      """select s_suppkey, a.cnt
         from supplier s cross join lateral
              (select count(*) as cnt from nation n
               where n.n_nationkey = s.s_nationkey
                  or n.n_regionkey = s.s_suppkey % 5) a""",
    // grouped + HAVING EXISTS with GENERAL (OR) correlation (r5c):
    // groups form over the OR-selected rows per outer binding, so the
    // survivors machinery groups by (distinct outer tuple, inner
    // keys). An OR-selection is inherently |tuples| × |inner| work
    // (each outer tuple selects its own row set), so the shape
    // belongs on a BOUNDED inner — here ≤125 distinct tuples × 25
    // nations; the customer×orders variant of this query was 250 s
    // at sf0.1 in BOTH engines, the semantics' own cost, not a plan
    // defect
    "q_exists_or_grouped" ->
      """select s_suppkey from supplier s
         where exists (select 1 from nation n
                       where n.n_nationkey = s.s_nationkey
                          or n.n_regionkey = s.s_suppkey % 5
                       group by n.n_regionkey
                       having count(*) >= 2)""",
    // grouped IN with general correlation: membership among the
    // per-group aggregate values of the OR-selected rows
    "q_in_or_grouped" ->
      """select s_suppkey from supplier s
         where 3 in (select count(*) from nation n
                     where n.n_nationkey = s.s_nationkey
                        or n.n_regionkey = s.s_suppkey % 5
                     group by n.n_regionkey)""",
    // grouped + general correlation in FLAG positions (r6 — closes
    // the correlation matrix): the same survivors machinery, with
    // surviving tuples LEFT-joined back as a presence mark (EXISTS)
    // or through the full-3VL membership flag (IN). Bounded inner,
    // same |tuples| × |inner| cost note as q_exists_or_grouped.
    // (modulo HAVING keeps the flag discriminating at every SF — a
    // monotone threshold saturates as per-group counts grow)
    "q_exists_or_grouped_flag" ->
      """select n_nationkey,
           exists (select 1 from customer c
                   where c.c_nationkey = n.n_nationkey
                      or c.c_acctbal > 9990 + n.n_regionkey
                   group by c.c_mktsegment
                   having count(*) % 3 = 0) as f
         from nation n""",
    "q_in_or_grouped_flag" ->
      """select n_nationkey from nation n
         where n_regionkey = 1
            or 3 in (select count(*) % 7 from customer c
                     where c.c_nationkey = n.n_nationkey
                        or c.c_acctbal > 9990 + n.n_regionkey
                     group by c.c_mktsegment)""",
    // JOINT theta condition in a flag position (r4c): two range
    // conjuncts cannot decompose through per-group min/max, so the
    // lowering semi-joins the DISTINCT outer-tuple table on the full
    // condition — the "any related row inside a 2-sided window" shape
    "q_exists_theta_joint" ->
      """select n_nationkey, n_name from nation
         where exists (select 1 from customer
                       where customer.c_nationkey = nation.n_nationkey
                         and customer.c_acctbal > nation.n_regionkey * 1000
                         and customer.c_custkey < nation.n_nationkey * 90)
            or n_regionkey = 0""",
    // projected IN flag over a joint theta pair with a null-bearing
    // key set — the 3VL arms (match / empty / null) aggregate per
    // distinct outer tuple over the same full-condition join
    "q_in_theta_joint" ->
      """select c_custkey,
           c_custkey in (select nullif(o_custkey, 751) from orders
                         where orders.o_custkey = customer.c_custkey
                           and orders.o_totalprice < customer.c_acctbal * 40
                           and orders.o_orderkey > customer.c_custkey * 2) as f
         from customer""",
    // scalar aggregate over a two-sided theta window ("count of
    // related lines inside a value band") — per-distinct-outer-tuple
    // aggregation carrying BOTH comparisons into the join
    "q_scalar_theta_joint" ->
      """select o_orderkey,
           (select count(*) from lineitem l
            where l.l_orderkey = orders.o_orderkey
              and l.l_quantity < orders.o_totalprice / 1000
              and l.l_linenumber > orders.o_orderkey % 3) as n
         from orders""",
    // theta-correlated scalar WITH inner GROUP BY (r5b): grouping by
    // the correlation key keeps one group per tuple; the theta
    // conjunct selects each order's cheaper-than-half lines. The
    // (keys, theta-operands, group-keys) aggregation joins back on
    // the tuple — never per-row re-execution
    "q_scalar_theta_grouped" ->
      """select o_orderkey,
           (select round(sum(l2.l_extendedprice), 4) from lineitem l2
            where l2.l_orderkey = orders.o_orderkey
              and l2.l_extendedprice < orders.o_totalprice / 2
            group by l2.l_orderkey) as cheap_sum
         from orders""",
    // theta-correlated scalar with GROUP-BY-less HAVING (r5b):
    // tuples whose aggregate fails the HAVING read NULL
    "q_scalar_theta_having" ->
      """select o_orderkey,
           (select count(*) from lineitem l2
            where l2.l_orderkey = orders.o_orderkey
              and l2.l_extendedprice < orders.o_totalprice
            having count(*) > 2) as big
         from orders""",
    // DISTINCT ON (r4d): latest/biggest row per key — one window over
    // one key shuffle, no self-join
    "q_distinct_on" ->
      """select distinct on (o_custkey) o_custkey, o_orderkey, o_totalprice
         from orders
         order by o_custkey, o_totalprice desc, o_orderkey""",
    // typed DATE literals + INTERVAL arithmetic (r4e): the TPC-H
    // predicate idiom; shifts lower as TIMESTAMP_NTZ calendar
    // arithmetic (month-end clamping identical in both engines)
    "q_date_arith" ->
      """select o_orderkey,
                o_orderdate + interval 3 month as plus3m,
                cast(o_orderdate - interval '1 day' as date)::varchar as minus1d
         from orders
         where o_orderdate >= date '1995-06-01'
           and o_orderdate < date '1995-06-01' + interval 2 month""",
    // date_trunc + strftime (r12, VERDICT r11 missing #5: the most
    // common DuckDB-port temporal gaps): date_trunc shares Spark's
    // (part, ts) registry signature; strftime's C directives convert
    // to a Java pattern at translation (literal formats only).
    // date-precision truncs cast to DATE — Spark's date_trunc always
    // returns timestamp, DuckDB's returns date for date-parts.
    // %V/%G (ISO week) are deliberately unmapped (Java locale weeks
    // diverge); 'week' truncation is Monday-based in both engines.
    "q_date_trunc" ->
      """select o_orderkey,
           cast(date_trunc('year', o_orderdate) as date)::varchar as yr,
           cast(date_trunc('quarter', o_orderdate) as date)::varchar as qu,
           cast(date_trunc('month', o_orderdate) as date)::varchar as mo,
           cast(date_trunc('week', o_orderdate) as date)::varchar as wk,
           strftime(o_orderdate, '%Y-%m-%d') as s_iso,
           strftime(o_orderdate, '%d/%m/%y') as s_dmy,
           strftime(o_orderdate, '%a %b %j') as s_names,
           strftime(o_orderdate, '%H:%M:%S %p of day %j, 100%%') as s_time
         from orders where o_orderkey % 16 = 0""",
    // SIMILAR TO / GLOB pattern operators (r12, DuckDB dialect):
    // whole-string matches — SIMILAR TO is an anchored plain regex
    // (DuckDB skips PostgreSQL's %/_ translation), GLOB converts
    // * ? [...] wildcards to an anchored regex at parse time
    "q_similar_glob" ->
      """select c_custkey,
           (c_name similar to 'Customer#[0-9]+') as sm,
           (c_name not similar to '.*[1-8]') as nsm,
           (c_mktsegment glob '*IL*') as gl,
           not (c_mktsegment glob 'B?ILDING') as ngl
         from customer""",
    // DuckDB alias pack (r12): the everyday list/string/regex names a
    // porting user hits first — list_contains/position/sort/
    // reverse_sort/has_any/has_all/unique, starts_with/ends_with,
    // regexp_matches (partial) / regexp_full_match (anchored) — all
    // mapped to codegen'd Spark functions (semantics probed: 1-based
    // position with 0-miss, nulls-LAST sorts, null-ignoring has_all/
    // unique). Sorted slices ride the q_array_slice sentinel.
    "q_duck_fns" ->
      """select doc_id,
           list_contains(w, 'the') as lc,
           cast(list_position(w, 'the') as bigint) as lp,
           array_to_string(list_sort(w[1:5]) || ['~'], ' ') as ls,
           array_to_string(list_reverse_sort(w[1:5]) || ['~'], ' ') as lrs,
           list_has_any(w, ['the', 'of']) as lha,
           list_has_all(w, ['the', 'of']) as lhall,
           cast(list_unique(w[1:6]) as bigint) as lu,
           starts_with(text, 'The') as sw,
           ends_with(lang, 'n') as ew,
           regexp_matches(lang, '^e') as rm,
           regexp_full_match(lang, '[a-z]{2}') as rfm
         from (select doc_id, text, lang,
                 string_split(lower(text), ' ') as w
               from documents) t""",
    // date_diff boundary-crossing semantics + strptime roundtrip +
    // date_part registry passthrough (r12): DuckDB's date_diff counts
    // PART boundaries crossed, not elapsed full units — graft lowers
    // it as a difference of boundary ordinals, pinned here across
    // every supported part
    "q_date_diff" ->
      """select o_orderkey,
           date_diff('day', o_orderdate, timestamp '1996-01-01 00:00:00') as dd,
           date_diff('month', o_orderdate, timestamp '1996-01-01 00:00:00') as dm,
           date_diff('quarter', o_orderdate, timestamp '1996-01-01 00:00:00') as dq,
           date_diff('year', o_orderdate, timestamp '1996-01-01 00:00:00') as dy,
           date_diff('week', o_orderdate, timestamp '1996-01-01 00:00:00') as dw,
           date_diff('hour', o_orderdate, timestamp '1996-01-01 06:30:00') as dh,
           strftime(strptime('2020-03-05 13:45', '%Y-%m-%d %H:%M'),
             '%Y-%m-%dT%H:%M') as sp,
           cast(date_part('year', o_orderdate) as int) as py,
           cast(date_part('dow', o_orderdate) as int) as pdow
         from orders where o_orderkey % 16 = 1""",
    // EXTRACT sugar (r4e): every supported field, int-pinned so both
    // engines agree on width
    "q_extract" ->
      """select o_orderkey,
                cast(extract(year from o_orderdate) as int) as y,
                cast(extract(month from o_orderdate) as int) as m,
                cast(extract(day from o_orderdate) as int) as d,
                cast(extract(quarter from o_orderdate) as int) as q,
                cast(extract(doy from o_orderdate) as int) as dy,
                cast(extract(dow from o_orderdate) as int) as dw
         from orders where o_orderkey % 64 = 0""",
    // standard string-syntax forms + :: cast (r4e)
    "q_str_syntax" ->
      """select p_partkey,
                substring(p_name from 3 for 8) as sub,
                cast(position('al' in p_name) as int) as pos_al,
                trim(leading 'a' from p_name) as lt,
                trim(trailing 'e' from p_name) as rt,
                p_partkey::smallint as pk_16
         from part
         where p_partkey <= 400 and (p_name like '%al%'
            or p_name like '%s!_%' escape '!')""",
    // r5 scalar-function catalog: string functions common to Spark
    // and DuckDB (the fallthrough registry call makes the whole Spark
    // builtin surface available; these pin cross-engine agreement)
    "q_str_funcs" ->
      """select p_partkey,
           upper(p_name) as up, lower(p_brand) as lo,
           replace(p_name, 'a', '@') as rep,
           left(p_name, 5) as l5, right(p_name, 4) as r4,
           lpad(p_brand, 12, '*') as lp, rpad(p_brand, 12, '.') as rp,
           reverse(p_type) as rev, repeat(p_brand, 2) as rpt,
           concat_ws('-', p_brand, p_type) as cw,
           cast(length(trim(p_name)) as int) as len,
           md5(p_name) as h,
           cast(instr(p_name, 'al') as int) as pos
         from part where p_partkey % 3 = 0""",
    // math catalog — only functions with bit-identical cross-engine
    // results (sqrt is IEEE correctly-rounded; exp/ln differ by libm
    // ulps between JVM and C and are deliberately excluded)
    "q_math_funcs" ->
      """select l_orderkey, l_linenumber,
           abs(l_quantity - 25) as ab,
           cast(ceil(l_quantity / 7) as bigint) as ce,
           cast(floor(l_quantity / 7) as bigint) as fl,
           sqrt(l_quantity) as sq,
           cast(sign(l_discount - 0.05) as int) as sg,
           greatest(l_quantity, l_extendedprice / 100) as gr,
           least(l_tax, l_discount) as ls,
           mod(l_orderkey, 7) as md
         from lineitem where l_orderkey % 10 = 0""",
    // date catalog over the (r5) timestamp columns
    "q_date_funcs" ->
      """select o_orderkey,
           cast(cast(date_trunc('month', o_orderdate) as date) as varchar) as mon,
           cast(last_day(cast(o_orderdate as date)) as varchar) as ld,
           cast(make_date(1995, cast(extract(month from o_orderdate) as int), 1) as varchar) as md
         from orders where o_orderkey % 16 = 0""",
    // star EXCLUDE/REPLACE (r4d): prune the wide text column and
    // normalize another in place — the everyday wide-table idiom
    "q_star_exclude" ->
      """select * exclude (text) replace (n_chars + 0 as n_chars)
         from documents""",
    // VALUES inline table (r4d) joined as a dim-style lookup — folds
    // to a LocalRelation, broadcast side of the join
    "q_values_join" ->
      """select v.label, count(*) as n, round(sum(c_acctbal), 2) as bal
         from customer
         join (values (0, 'west'), (1, 'east'), (2, 'north')) as v(rk, label)
           on customer.c_nationkey % 3 = v.rk
         group by v.label""",
    // GROUP BY ALL / ORDER BY ALL (r4d, DuckDB conveniences): every
    // non-aggregate item groups; every output column orders
    "q_group_by_all" ->
      """select c_nationkey, c_mktsegment, count(*) as n,
           round(sum(c_acctbal), 2) as bal
         from customer group by all order by all""",
    // quantified comparisons (ANY/ALL, r4d): correlated ALL over the
    // per-key (count, min, max) summary — "balance beats EVERY order"
    // — with the empty-group arm (no orders ⟹ TRUE)
    "q_quant_all" ->
      """select c_custkey, c_acctbal from customer
         where c_acctbal > all (select o_totalprice / 20 from orders
                                where orders.o_custkey = customer.c_custkey)""",
    // projected ANY flag with a null-bearing set and a null-capable
    // probe: all three 3VL arms (TRUE / FALSE / NULL) land in output
    "q_quant_any_flag" ->
      """select c_custkey,
           nullif(c_custkey, 7) < any (select nullif(o_custkey, o_custkey % 977)
                                       from orders
                                       where orders.o_custkey = customer.c_custkey + 1) as f
         from customer""",
    // theta-correlated quantifier: the compared set depends on an
    // outer range operand, so the (count, has-null, min, max) summary
    // groups per distinct outer tuple — "beats every cheap order"
    "q_quant_theta" ->
      """select c_custkey from customer
         where c_acctbal * 50 > all (select o_totalprice from orders
                                     where orders.o_custkey = customer.c_custkey
                                       and o_totalprice < customer.c_acctbal * 40)""",
    // <> ANY decided through the min/max pair, uncorrelated set
    "q_quant_ne_any" ->
      """select n_nationkey, n_name from nation
         where n_regionkey <> any (select n_regionkey from nation n2
                                   where n2.n_name like 'A%')""",
    // correlated scalar subqueries: inner GROUP BY keys admitted
    // alongside the correlation keys (empty correlation group then
    // yields zero rows — NULL even for COUNT), and expressions over
    // several aggregates
    "q_scalar_corr_grouped" ->
      """select n_name,
           (select count(*) from customer
            where customer.c_nationkey = nation.n_nationkey
            group by customer.c_nationkey) as n_cust,
           (select max(c_acctbal) - min(c_acctbal) from customer
            where customer.c_nationkey = nation.n_nationkey) as bal_range
         from nation""",
    // correlated scalar subqueries with HAVING: groups failing the
    // filter contribute zero rows — NULL scalar, even for COUNT
    "q_scalar_corr_having" ->
      """select n_name,
           (select count(*) from customer
            where customer.c_nationkey = nation.n_nationkey
            having count(*) > 30) as big_n,
           (select round(sum(c_acctbal), 2) from customer
            where customer.c_nationkey = nation.n_nationkey
            group by customer.c_nationkey
            having count(*) > 30) as big_sum
         from nation""",
    // GROUPING SETS with an expression key: the named grouping column
    // is shared across every set that lists the expression
    "q_grouping_sets_expr" ->
      """select l_returnflag, l_quantity > 25 as big, count(*) as n,
           round(sum(l_quantity), 2) as qty
         from lineitem
         group by grouping sets ((l_returnflag, l_quantity > 25), (l_returnflag), ())""",
    // named WINDOW definitions referenced from OVER (PostgreSQL/DuckDB
    // surface; the reference grammar's window_definition is empty —
    // real content is the useful extension)
    "q_named_window" ->
      """select c_custkey,
           cast(rank() over w as bigint) as rk,
           round(sum(c_acctbal) over w2, 2) as sbal,
           lag(c_custkey, 1) over w as prev_id
         from customer
         window w as (partition by c_nationkey order by c_acctbal desc, c_custkey),
                w2 as (partition by c_nationkey)""",
    // window inheritance (PostgreSQL/DuckDB): definitions extend a
    // base window (ORDER BY over an unordered base; a frame over an
    // ordered one). One-level references only here: DuckDB resolves
    // TRANSITIVE chains incorrectly (w->w2->w3 disagrees with its own
    // expanded form, verified v1.x), so the two-level case is pinned
    // against spark.sql's expansion in SqlSurfaceSpec instead.
    "q_named_window_chain" ->
      """select c_custkey,
           cast(rank() over w2 as bigint) as rk,
           round(sum(c_acctbal) over w3, 2) as run
         from customer
         window w as (partition by c_nationkey),
                w2 as (w order by c_acctbal desc, c_custkey),
                wo as (partition by c_nationkey
                       order by c_acctbal desc, c_custkey),
                w3 as (wo rows between 1 preceding and current row)""",
    // LATERAL correlated aggregate derived tables (r5): the
    // multi-column scalar-subquery generalization, decorrelated to
    // one grouped aggregation + null-safe tuple join (never per-row
    // re-execution); COUNT over empty correlation groups reads 0
    "q_lateral" ->
      """select c.c_custkey, o.n_orders, o.total, o.biggest
         from customer c
         cross join lateral (
           select count(*) as n_orders,
                  round(sum(o_totalprice), 2) as total,
                  max(o_totalprice) as biggest
           from orders where orders.o_custkey = c.c_custkey) o""",
    // theta-correlated LATERAL aggregate (r5b): per-distinct-outer-
    // tuple aggregation (the theta-scalar decorrelation generalized
    // to several columns) — COUNT over empty tuples reads 0
    "q_lateral_theta" ->
      """select c.c_custkey, o.n, o.mx
         from customer c
         cross join lateral (
           select count(*) as n, max(o_totalprice) as mx from orders
           where orders.o_custkey = c.c_custkey
             and orders.o_totalprice < c.c_acctbal * 40) o""",
    // grouped LATERAL with OR-disjunct (general) correlation (r7 —
    // closing SURVEY 36ap's last loud wall): each outer row fans out
    // to its correlated set's GROUPS, HAVING filters groups before
    // the join back, and the OR arm rides the tuple join as residual
    // condition next to the key equality (keeping the join equi-keyed
    // — a bare OR correlation with no equi conjunct is the inherently
    // quadratic form and belongs on bounded inners only). DuckDB runs
    // the lateral natively — a true cross-implementation check.
    "q_lateral_or_grouped" ->
      """select c.c_custkey, a.st, a.n, round(a.total, 4) as total
         from customer c cross join lateral (
           select o.o_orderstatus as st, count(*) as n,
                  sum(o.o_totalprice) as total
           from orders o
           where o.o_custkey = c.c_custkey
             and (o.o_orderstatus = 'F'
                  or o.o_totalprice < c.c_acctbal * 10)
           group by o.o_orderstatus
           having count(*) > 1) a""",
    // LATERAL top-n (r5b): each customer's 2 biggest orders — ONE
    // row_number window on the correlation key + one equi-join, never
    // per-row re-execution (the unique o_orderkey tiebreak makes the
    // result deterministic across engines)
    "q_lateral_topn" ->
      """select c.c_custkey, t.o_orderkey, t.o_totalprice
         from customer c
         cross join lateral (
           select o_orderkey, o_totalprice from orders
           where orders.o_custkey = c.c_custkey
           order by o_totalprice desc, o_orderkey limit 2) t""",
    // LEFT JOIN LATERAL: customers with no orders survive with NULLs
    // (the one place the INNER/LEFT lateral spelling matters)
    "q_lateral_topn_left" ->
      """select c.c_custkey, t.o_orderkey
         from customer c
         left join lateral (
           select o_orderkey from orders
           where orders.o_custkey = c.c_custkey
           order by o_totalprice desc, o_orderkey limit 1) t on true""",
    // IGNORE NULLS window functions (r5, standard <null treatment>;
    // DuckDB's inside-parens position is the shared spelling, the
    // standard after-parens form also parses). nullif plants NULLs
    "q_window_ignore_nulls" ->
      """select c_custkey,
           lag(nullif(c_acctbal, 0.0), 1 ignore nulls)
             over (partition by c_nationkey order by c_custkey) as prev_nn,
           first_value(nullif(c_mktsegment, 'BUILDING') ignore nulls)
             over (partition by c_nationkey order by c_custkey
                   rows between unbounded preceding and current row) as first_seg,
           last_value(nullif(c_mktsegment, 'BUILDING') ignore nulls)
             over (partition by c_nationkey order by c_custkey
                   rows between unbounded preceding and current row) as last_seg
         from customer""",
    // FETCH FIRST (r5 standard forms): OFFSET n ROWS + FETCH ... ONLY
    // is LIMIT/OFFSET spelled per the standard — shared text
    "q_fetch_only" ->
      """select c_custkey from customer order by c_custkey
         offset 5 rows fetch first 10 rows only""",
    // IN (subquery) inside HAVING (sql.lark:22,112-130) — existence
    // flag joined onto the aggregated result; probe is an aggregate
    "q_having_in_subquery" ->
      """select o_custkey, count(*) as cnt from orders
         group by o_custkey
         having count(*) in (select n_nationkey from nation where n_nationkey >= 20)""",
    // computed (non-literal) IN-list elements (sql.lark:129)
    "q_in_expr_list" ->
      """select n_nationkey, n_name from nation
         where n_nationkey in (n_regionkey, n_regionkey + 4, 10)""",
    // null-safe equality: IS [NOT] DISTINCT FROM never yields UNKNOWN
    "q_is_distinct" ->
      """select n_nationkey,
           nullif(n_regionkey, 2) is distinct from 1 as d,
           nullif(n_regionkey, 2) is not distinct from nullif(n_regionkey, 2) as nd
         from nation""",
    // DISTINCT aggregate variants (sum/avg; count(distinct) has its
    // own entry) — previously silently computed the non-distinct form
    "q_agg_distinct" ->
      """select l_returnflag,
           round(sum(distinct l_quantity), 2) as sd,
           round(avg(distinct l_quantity), 4) as ad
         from lineitem group by l_returnflag""",
    // INTERSECT ALL: multiset intersection, min-multiplicity survives
    "q_intersect_all" ->
      """select l_returnflag from lineitem where l_quantity < 3
         intersect all
         select l_returnflag from lineitem where l_quantity < 5""",
    // explicit NULLS FIRST/LAST pins null placement cross-engine
    // (Spark defaults nulls-first ascending, DuckDB nulls-last) —
    // observable through the LIMIT
    "q_order_nulls" ->
      """select c_custkey, nullif(c_nationkey, 5) as nk from customer
         order by nk desc nulls last, c_custkey limit 40""",
    // QUALIFY — graft dialect extension; DuckDB supports it natively,
    // so the same text is engine input and oracle. Per-group top-k via
    // a window filter, the canonical QUALIFY use.
    "q_qualify" ->
      """select c_nationkey, c_custkey, c_acctbal,
           cast(row_number() over (partition by c_nationkey
                              order by c_acctbal desc, c_custkey) as bigint) as rn
         from customer qualify rn <= 3""",
    // window function INLINE in QUALIFY (not projected), over an
    // aggregated result — exercises both the hidden-item hoist and the
    // post-aggregation window lowering
    "q_qualify_agg" ->
      """select c_nationkey, count(*) as cnt from customer
         group by c_nationkey
         qualify rank() over (order by count(*) desc, c_nationkey) <= 5""",
    // window over an aggregate in a plain select item
    "q_window_over_agg" ->
      """select c_mktsegment, count(*) as cnt,
           cast(rank() over (order by count(*) desc, c_mktsegment) as bigint) as r
         from customer group by c_mktsegment""",
    // IN/EXISTS as PROJECTED booleans (select-item position) — the
    // existence flag becomes the output value; 3VL verified by DuckDB
    // (spark.sql itself deviates on NOT IN vs null-bearing sets)
    "q_in_select" ->
      """select c_custkey,
           c_nationkey in (select n_nationkey from nation where n_regionkey = 2) as in_r2,
           exists (select 1 from orders
                   where orders.o_custkey = customer.c_custkey
                     and o_totalprice > 400000) as has_big
         from customer""",
    "q_not_in_select_null" ->
      """select n_nationkey,
           n_nationkey not in (select nullif(r_regionkey, 2) from region) as f
         from nation""",
    "q_is_null" ->
      "select c_custkey from customer where c_acctbal is not null and c_mktsegment is not null",
    // UNNEST in select position (r5, DuckDB form) — one row per array
    // element via a Generate; string_split maps to regex-quoted split
    "q_unnest" ->
      """select doc_id, unnest(string_split(lower(text), ' ')) as tok
         from documents where doc_id % 20 = 0""",
    // parallel unnests ZIP to the longest array, shorter ones padded
    // with NULLs (r5b, DuckDB semantics) — lowered as one explode of
    // the index sequence + positional try_element_at reads
    "q_unnest_multi" ->
      """select doc_id,
           unnest(string_split(lower(text), ' ')) as tok,
           unnest(string_split(lower(text), 'a')) as frag
         from documents where doc_id % 50 = 0""",
    // --- expressions (rows 11-15)
    // charge left unrounded: both engines evaluate the identical IEEE
    // expression tree, so full-precision doubles match bitwise, while
    // round() at .xx5 boundaries diverges between rounding modes.
    "q_math" ->
      """select l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) as charge,
           cast(1 + 2 * 3 - 2 as bigint) as my_number
         from lineitem""",
    "q_case_when" ->
      """select l_orderkey, l_linenumber,
           case when l_quantity > 40 then 'big'
                when l_quantity > 20 then 'mid'
                else 'small' end as bucket
         from lineitem""",
    // simple CASE (r11c): comparand form — equality per branch, NULL
    // comparand falls to ELSE; comparand may be an expression
    "q_case_simple" ->
      """select l_orderkey, l_linenumber,
           cast(case l_returnflag when 'A' then 1 when 'R' then 2
             else 0 end as bigint) as rf,
           case l_linenumber % 3 when 0 then 'z' when 1 then 'a'
             end as m3
         from lineitem""",
    // list comprehension (r11c, DuckDB): [expr for x in l if cond] —
    // lowered to transform(filter(...)); DuckDB runs it natively.
    // results stringified (q_array_slice `|| ['~']` sentinel
    // convention) so the driver checker can hash the rows — raw
    // array columns crash its pandas sort (r11 red entry)
    "q_list_comprehension" ->
      """select r_regionkey,
           array_to_string(
             [cast(x * 2 as varchar)
                for x in [r_regionkey, r_regionkey + 1, 7]] || ['~'],
             ',') as doubled,
           array_to_string(
             [cast(x as varchar)
                for x in [r_regionkey, 3, 9, r_regionkey + 8] if x > 4]
               || ['~'],
             ',') as big
         from region""",
    // POSITIONAL JOIN (r11c, DuckDB): row-by-row zip of two ordered
    // subqueries; the shorter side null-pads (full-outer-on-position)
    "q_positional_join" ->
      """select o_orderkey, r_name
         from (select o_orderkey from orders
               order by o_orderkey limit 8) o
         positional join
         (select r_name from region order by r_name) r""",
    // float→int cast of non-integral literals differs (Spark truncates,
    // DuckDB rounds) — integral values cast identically.
    "q_cast" ->
      """select cast(l_quantity as int) as qi,
           cast(l_orderkey as string) as ks,
           cast(7 as double) as litd,
           l_orderkey, l_linenumber
         from lineitem""",
    // TRY_CAST (r7b): NULL on conversion failure — DuckDB runs the
    // same text natively
    "q_try_cast" ->
      """select o_orderkey,
           try_cast(substring(o_orderpriority, 1, 1) as integer) as pri,
           try_cast(o_orderpriority as integer) as bad,
           try_cast(o_orderstatus as double) as badf
         from orders""",
    "q_coalesce" ->
      "select c_custkey, round(coalesce(c_acctbal, 0.0), 2) as bal from customer",
    // --- aggregation (rows 16-19)
    "q_aggregates" ->
      """select l_returnflag,
           round(sum(l_quantity), 2) as sum_qty,
           round(avg(l_quantity), 4) as avg_qty,
           min(l_quantity) as min_qty,
           max(l_quantity) as max_qty,
           count(l_quantity) as count_qty
         from lineitem group by l_returnflag""",
    // FILTER (WHERE ...) aggregate clause (standard SQL; CASE-wrapped
    // argument — NULLs are invisible to every aggregate form)
    "q_agg_filter" ->
      """select l_returnflag,
           round(sum(l_quantity) filter (where l_discount > 0.05), 2) as sq,
           count(*) filter (where l_tax > 0.04) as ct
         from lineitem group by l_returnflag""",
    // dispersion aggregates (sample forms in both engines), plain and
    // DISTINCT (r4: native lowering); 4dp rounding absorbs
    // accumulation-algorithm ulps
    "q_agg_dispersion" ->
      """select l_returnflag, round(stddev(l_quantity), 4) as sd,
           round(variance(l_quantity), 4) as vr,
           round(stddev(distinct l_quantity), 4) as sdd,
           round(variance(distinct l_quantity), 4) as vrd
         from lineitem group by l_returnflag""",
    // r5 aggregate catalog: boolean aggregates, conditional count,
    // exact median (both engines interpolate even counts)
    "q_agg_bool" ->
      """select l_returnflag,
           bool_and(l_quantity > 1) as all_gt1,
           bool_or(l_tax > 0.07) as any_tax,
           cast(count_if(l_discount > 0.05) as bigint) as n_disc,
           round(median(l_quantity), 4) as med
         from lineitem group by l_returnflag""",
    // bitwise aggregates (r11b) — same names and semantics in both
    // engines; casts pin the dtypes (DuckDB keeps the input width)
    "q_agg_bitwise" ->
      """select l_returnflag,
           cast(bit_and(l_linenumber) as bigint) as ba,
           cast(bit_or(l_linenumber) as bigint) as bo,
           cast(bit_xor(l_orderkey % 1024) as bigint) as bx
         from lineitem group by l_returnflag""",
    // two-column statistics (sample + population forms)
    "q_agg_stats2" ->
      """select l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) as cr,
           round(covar_samp(l_quantity, l_extendedprice), 4) as cvs,
           round(covar_pop(l_quantity, l_extendedprice), 4) as cvp
         from lineitem group by l_returnflag""",
    // positional aggregates: the value at the extremum of ANOTHER
    // column; by-keys are per-group-unique (c_custkey), so the result
    // is deterministic — ties on the by-key are engine-defined
    "q_agg_argminmax" ->
      """select c_nationkey,
           max_by(c_name, c_custkey) as last_name,
           min_by(c_name, c_custkey) as first_name,
           arg_max(c_custkey, c_custkey) as max_id
         from customer group by c_nationkey""",
    // ordered-set aggregates (r5): ORDER BY inside the call is
    // REQUIRED (deterministic element order — same reproducibility
    // contract as DISTINCT ON); string_agg composes with FILTER
    "q_agg_string" ->
      """select c_nationkey,
           string_agg(c_name, ',' order by c_custkey desc) as names,
           string_agg(c_name, ';' order by c_custkey)
             filter (where c_acctbal > 9000) as rich_names
         from customer group by c_nationkey""",
    // array output serialized via array_to_string (r6): the driver's
    // pandas comparator cannot hash array-typed columns, so both
    // engines project the comma-joined form — same information,
    // scalar schema (the raw array form stays pinned in
    // AggCatalogSpec)
    "q_agg_array" ->
      """select c_mktsegment,
           array_to_string(
             array_agg(c_custkey order by c_acctbal desc, c_custkey),
             ',') as top_ids
         from customer
         where c_acctbal > 9900 group by c_mktsegment""",
    // WITHIN GROUP percentiles (r5, standard ordered-set syntax):
    // percentile_cont interpolates (≡ DuckDB quantile_cont),
    // percentile_disc picks the smallest value at cum-dist >= f
    "q_agg_within_group" ->
      """select l_returnflag,
           round(percentile_cont(0.5) within group (order by l_quantity), 4) as p50,
           round(percentile_cont(0.95) within group (order by l_quantity), 4) as p95,
           percentile_disc(0.25) within group (order by l_quantity) as p25d
         from lineitem group by l_returnflag""",
    // GROUPING() disambiguates rolled-up NULL keys from data NULLs
    "q_grouping_fn" ->
      """select l_returnflag, l_linestatus,
           cast(grouping(l_returnflag) as int) as g_rf,
           cast(grouping(l_linestatus) as int) as g_ls,
           count(*) as n
         from lineitem group by rollup(l_returnflag, l_linestatus)""",
    "q_count_star" ->
      "select count(*) as n from lineitem",
    "q_count_distinct" ->
      "select count(distinct l_returnflag) as n, count(distinct l_suppkey) as s from lineitem",
    "q_group_by" ->
      """select l_returnflag, l_linestatus, round(sum(l_quantity), 2) as sum_qty,
           count(*) as n
         from lineitem group by l_returnflag, l_linestatus""",
    "q_having" ->
      """select l_suppkey, count(*) as n from lineitem
         group by l_suppkey having count(*) > 10""",
    // --- ordering / limits (rows 20-21)
    "q_order_by" ->
      "select c_custkey, c_acctbal from customer order by c_acctbal desc, c_custkey",
    "q_limit" ->
      "select c_custkey, c_name from customer order by c_custkey limit 10 offset 5",
    // ORDER BY aggregate expressions after GROUP BY (the sort key is
    // computed per group through a hidden select item)
    "q_order_by_agg" ->
      """select c_nationkey, count(*) as n from customer
         group by c_nationkey
         order by count(*) desc, c_nationkey limit 10""",
    // --- joins (rows 22-27)
    "q_join_inner" ->
      """select n_name, r_name from nation
         join region on n_regionkey = r_regionkey""",
    "q_join_left" ->
      """select c_custkey, n_name from customer
         left join nation on c_nationkey = n_nationkey and n_regionkey < 2""",
    "q_join_right" ->
      """select s_suppkey, n_name from supplier
         right outer join nation on s_nationkey = n_nationkey""",
    "q_join_full" ->
      """select c_custkey, s_suppkey from customer
         full outer join supplier on c_nationkey = s_nationkey and c_custkey < 100""",
    "q_join_cross" ->
      "select count(*) as n from nation, region",
    // SEMI / ANTI joins (r5): existence filtering as an explicit join
    // type — DuckDB spelling; lowers to the same LeftSemi/LeftAnti
    // plans as EXISTS / NOT EXISTS
    "q_join_semi" ->
      """select c_custkey, c_name from customer
         semi join orders on o_custkey = c_custkey and o_totalprice > 400000""",
    "q_join_anti" ->
      """select c_custkey from customer
         anti join orders on o_custkey = c_custkey""",
    // NATURAL JOIN (r5): common columns via CTE renames (TPC-H-style
    // prefixed names share none), standard one-copy output layout
    "q_join_natural" ->
      """with a as (select n_regionkey as rk, n_name from nation),
              b as (select r_regionkey as rk, r_name from region)
         select rk, n_name, r_name from a natural join b""",
    "q_subquery" ->
      """select big.n_name from
           (select * from (select n_name, n_regionkey from nation) inner1
            where n_regionkey > 1) big""",
    "q_agg_subquery" ->
      """select n_name, cnt from nation
         join (select c_nationkey, count(*) as cnt from customer
               group by c_nationkey) t
           on n_nationkey = t.c_nationkey""",
    // positional group/order refs (Spark SQL and DuckDB semantics)
    "q_group_by_ordinal" ->
      """select l_returnflag, l_linestatus, count(*) as n, round(sum(l_quantity), 2) as qty
         from lineitem group by 1, 2 order by 1, 2""",
    // grouping sets (graft dialect; DuckDB-valid) — subtotal rows
    // carry nulls in the rolled-up keys in both engines
    "q_group_rollup" ->
      """select l_returnflag, l_linestatus, count(*) as n,
           round(sum(l_quantity), 2) as qty
         from lineitem group by rollup(l_returnflag, l_linestatus)""",
    // explicit GROUPING SETS (bare key = singleton set, () = total)
    "q_grouping_sets" ->
      """select l_returnflag, l_linestatus, count(*) as n,
           round(sum(l_quantity), 2) as qty
         from lineitem
         group by grouping sets ((l_returnflag, l_linestatus), l_returnflag, ())""",
    // nested ROLLUP inside GROUPING SETS (r5c): elements expand in
    // place — DuckDB runs the same nesting natively
    "q_grouping_sets_nested" ->
      """select l_returnflag, l_linestatus, count(*) as n,
           round(sum(l_quantity), 2) as qty
         from lineitem
         group by grouping sets (rollup(l_returnflag, l_linestatus),
                                 (l_linestatus))""",
    // scalar subquery under ROLLUP — the constant is aggregated
    // (min) rather than added to the keys, keeping the grouping sets
    "q_rollup_scalar" ->
      """select l_returnflag, count(*) as n,
           (select max(r_regionkey) from region) as mx
         from lineitem group by rollup(l_returnflag)""",
    // uncorrelated scalar subqueries (graft dialect; DuckDB-valid).
    // acctbal values are 2-decimal, far from the avg boundary, so the
    // cross-engine avg comparison is ulp-safe
    "q_scalar_subquery" ->
      """select c_custkey, round(c_acctbal, 2) as bal from customer
         where c_acctbal > (select avg(c_acctbal) from customer)
            or c_custkey <= (select min(n_nationkey) from nation) + 3""",
    // correlated scalar aggregate (decorrelated to group + left join;
    // COUNT over empty correlation groups must read 0)
    "q_scalar_corr" ->
      """select n_name,
           (select count(*) from customer
            where customer.c_nationkey = nation.n_nationkey) as n_cust
         from nation""",
    // JOIN USING through CTE renames (graft dialect; DuckDB-valid)
    "q_join_using" ->
      """with a as (select n_regionkey as rk, n_name from nation),
              b as (select r_regionkey as rk, r_name from region)
         select rk, n_name, r_name from a join b using (rk)""",
    // WITH RECURSIVE (r5): UNION ALL transitive closure over a
    // +5-step edge relation (terminates when keys leave the domain) —
    // driver-side fixpoint iteration, the Pregel pattern
    "q_recursive_cte" ->
      """with recursive reach(k, root) as (
           select n_nationkey as k, n_nationkey as root from nation where n_regionkey = 0
           union all
           select n.n_nationkey, r.root from nation n join reach r on n.n_nationkey = r.k + 5
         )
         select root, count(*) as n, max(k) as far from reach group by root""",
    // WITH RECURSIVE UNION (distinct): a CYCLIC walk that only
    // terminates because each round deduplicates against everything
    // seen — the convergence-by-distinct contract
    "q_recursive_union" ->
      """with recursive walk(k) as (
           select cast(n_nationkey as int) as k from nation where n_nationkey = 0
           union
           select cast((k * 2 + 3) % 11 as int) from walk
         )
         select k from walk""",
    // CTEs (graft dialect extension; plain SQL in DuckDB)
    "q_with_cte" ->
      """with big as (select l_orderkey, round(sum(l_quantity), 2) as qty
                      from lineitem group by l_orderkey)
         select count(*) as n, round(max(qty), 2) as max_qty
         from big where qty > 100""",
    // --- TPC-H-style multi-join analytics (join-order/broadcast
    // exercise; revenue sums rounded to absorb accumulation-order ulps)
    // TPC-H Q1 (r5 — the r5 testdata regeneration added l_shipdate):
    // the canonical pricing-summary scan+agg; sums rounded 2dp /
    // avgs 4dp to absorb accumulation-order ulps (2-decimal inputs
    // keep the 2dp boundary safe)
    "q_tpch_q1" ->
      """select l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) as sum_qty,
           round(sum(l_extendedprice), 2) as sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) as sum_charge,
           round(avg(l_quantity), 4) as avg_qty,
           round(avg(l_extendedprice), 4) as avg_price,
           round(avg(l_discount), 4) as avg_disc,
           count(*) as count_order
         from lineitem
         where l_shipdate <= date '2000-12-01' - interval 90 day
         group by l_returnflag, l_linestatus
         order by l_returnflag, l_linestatus""",
    // r13 (guide §3.1): FROM order rewritten fact-table-first in
    // q3/q5 (inner joins commute — row-identical, oracle re-verified
    // both SFs). Catalyst's stat-less join estimate is the PRODUCT of
    // the child sizes, so with dimension-first text a left-deep
    // chain's accumulated side always "outweighs" the lineitem leaf
    // and the planner put the 600 k-row FACT table on the broadcast
    // BUILD side (collect + hash-build of the biggest input; a plan
    // that stops scaling the moment the fact side outgrows the
    // threshold-capped build). lineitem-first makes every build side
    // a true dimension and the fact table the stream. DuckDB (the
    // oracle AND baseline) join-reorders by cost itself, so its plans
    // are unchanged by the text order. A/B: q3 0.80→0.64, q5
    // 1.03→0.70 matched-mode. q18 probed SLOWER reordered (0.71→0.79:
    // its IN-semi prunes orders before the fact join, so streaming
    // the filtered orders side wins at this SF) — kept dimension-
    // first there.
    "q_tpch_q3" ->
      """select l_orderkey, o_orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
         from lineitem
         join orders on l_orderkey = o_orderkey
         join customer on c_custkey = o_custkey
         where c_mktsegment = 'BUILDING' and o_orderdate < '1997-01-01'
         group by l_orderkey, o_orderdate
         order by revenue desc, l_orderkey limit 10""",
    "q_tpch_q5" ->
      """select n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
         from lineitem
         join orders on l_orderkey = o_orderkey
         join customer on c_custkey = o_custkey
         join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey
         join nation on s_nationkey = n_nationkey
         join region on n_regionkey = r_regionkey
         where r_name = 'ASIA'
         group by n_name
         order by revenue desc, n_name""",
    // --- TPC-H battery (r6): the remaining classic query SHAPES,
    // adapted to this schema (no partsupp table, no commit/receipt
    // dates — substituted predicates keep each query's characteristic
    // plan: correlated scalar min/avg, EXISTS/NOT-EXISTS pairs,
    // grouped-HAVING IN, disjunctive join predicates, CTE + scalar
    // max over it, left-join histogram, case-ratio aggregates).
    // Q2 shape: correlated scalar MIN whose inner is itself a join;
    // outer is the implicit 4-table FROM
    "q_tpch_q2" ->
      """select distinct s_acctbal, s_name, n_name, p_partkey, p_type
         from part, supplier, lineitem, nation
         where p_partkey = l_partkey and s_suppkey = l_suppkey
           and p_size <= 8 and p_type = 'LARGE'
           and s_nationkey = n_nationkey
           and s_acctbal = (select min(s2.s_acctbal)
                            from supplier s2 join lineitem l2 on s2.s_suppkey = l2.l_suppkey
                            where l2.l_partkey = p_partkey)
         order by s_acctbal desc, n_name, s_name, p_partkey
         limit 20""",
    // Q4 shape: correlated EXISTS feeding a grouped count
    "q_tpch_q4" ->
      """select o_orderpriority, count(*) as order_count
         from orders
         where o_orderdate >= date '1996-01-01' and o_orderdate < date '1996-01-01' + interval 3 month
           and exists (select * from lineitem where l_orderkey = o_orderkey and l_quantity > 45)
         group by o_orderpriority
         order by o_orderpriority""",
    // Q6: pure scan-filter-agg (the forecasting-revenue one-pass)
    "q_tpch_q6" ->
      """select round(sum(l_extendedprice * l_discount), 2) as revenue
         from lineitem
         where l_shipdate >= date '1996-01-01' and l_shipdate < date '1997-01-01'
           and l_discount between 0.02 and 0.04 and l_quantity < 24""",
    // Q7 shape: two nation self-join aliases + disjunctive pair filter
    "q_tpch_q7" ->
      """select supp_nation, cust_nation, l_year, round(sum(volume), 2) as revenue
         from (select n1.n_name as supp_nation, n2.n_name as cust_nation,
                 cast(extract(year from l_shipdate) as int) as l_year,
                 l_extendedprice * (1 - l_discount) as volume
               from supplier
                 join lineitem on s_suppkey = l_suppkey
                 join orders on o_orderkey = l_orderkey
                 join customer on c_custkey = o_custkey
                 join nation n1 on s_nationkey = n1.n_nationkey
                 join nation n2 on c_nationkey = n2.n_nationkey
               where ((n1.n_name = 'NATION_3' and n2.n_name = 'NATION_7')
                   or (n1.n_name = 'NATION_7' and n2.n_name = 'NATION_3'))
                 and l_shipdate between date '1996-01-01' and date '1997-12-31') as shipping
         group by supp_nation, cust_nation, l_year
         order by supp_nation, cust_nation, l_year""",
    // Q8 shape: 8-table join, market-share case-ratio per year
    "q_tpch_q8" ->
      """select o_year, round(sum(case when nation = 'NATION_5' then volume else 0 end) / sum(volume), 4) as mkt_share
         from (select cast(extract(year from o_orderdate) as int) as o_year,
                 l_extendedprice * (1 - l_discount) as volume,
                 n2.n_name as nation
               from part
                 join lineitem on p_partkey = l_partkey
                 join supplier on s_suppkey = l_suppkey
                 join orders on l_orderkey = o_orderkey
                 join customer on o_custkey = c_custkey
                 join nation n1 on c_nationkey = n1.n_nationkey
                 join region on n1.n_regionkey = r_regionkey
                 join nation n2 on s_nationkey = n2.n_nationkey
               where r_name = 'ASIA' and p_type = 'ECONOMY'
                 and o_orderdate between date '1996-01-01' and date '1997-12-31') as all_nations
         group by o_year
         order by o_year""",
    // Q9 shape: LIKE-filtered part join, per-nation-year profit
    // (retailprice-based cost substitutes the missing ps_supplycost)
    "q_tpch_q9" ->
      """select nation, o_year, cast(round(sum(amount), 2) as double) as sum_profit
         from (select n_name as nation,
                 cast(extract(year from o_orderdate) as int) as o_year,
                 cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))
                   - cast(p_retailprice as decimal(18,2)) * cast(0.06 as decimal(4,2)) * cast(l_quantity as decimal(18,2)) as amount
               from part
                 join lineitem on p_partkey = l_partkey
                 join supplier on s_suppkey = l_suppkey
                 join orders on o_orderkey = l_orderkey
                 join nation on s_nationkey = n_nationkey
               where p_name like '%gear%') as profit
         group by nation, o_year
         order by nation, o_year desc""",
    // Q10 shape: returned-item revenue, wide group keys, top 20
    "q_tpch_q10" ->
      """select c_custkey, c_name,
                cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))), 2) as double) as revenue,
                c_acctbal, n_name
         from customer
           join orders on c_custkey = o_custkey
           join lineitem on l_orderkey = o_orderkey
           join nation on c_nationkey = n_nationkey
         where o_orderdate >= date '1996-01-01' and o_orderdate < date '1996-01-01' + interval 3 month
           and l_returnflag = 'R'
         group by c_custkey, c_name, c_acctbal, n_name
         order by revenue desc, c_custkey
         limit 20""",
    // Q13 shape: LEFT JOIN with an extra ON conjunct, count histogram
    // (aggregate of an aggregate)
    "q_tpch_q13" ->
      """select c_count, count(*) as custdist
         from (select c_custkey, count(o_orderkey) as c_count
               from customer left join orders on c_custkey = o_custkey and o_orderpriority <> '5-LOW'
               group by c_custkey) as c_orders
         group by c_count
         order by custdist desc, c_count desc""",
    // Q14 shape: promo-revenue case-ratio over one month
    "q_tpch_q14" ->
      """select round(100.00 * sum(case when p_type = 'PROMO' then l_extendedprice * (1 - l_discount) else 0 end)
                / sum(l_extendedprice * (1 - l_discount)), 4) as promo_revenue
         from lineitem join part on l_partkey = p_partkey
         where l_shipdate >= date '1996-09-01' and l_shipdate < date '1996-10-01'""",
    // Q15 shape: CTE revenue view + scalar MAX over the same CTE
    "q_tpch_q15" ->
      """with revenue as (
           select l_suppkey as supplier_no, round(sum(l_extendedprice * (1 - l_discount)), 2) as total_revenue
           from lineitem
           where l_shipdate >= date '1996-01-01' and l_shipdate < date '1996-04-01'
           group by l_suppkey)
         select s_suppkey, s_name, total_revenue
         from supplier join revenue on s_suppkey = supplier_no
         where total_revenue = (select max(total_revenue) from revenue)
         order by s_suppkey""",
    // Q16 shape: NOT IN subquery + count(distinct) over wide keys
    "q_tpch_q16" ->
      """select p_brand, p_type, p_size, count(distinct l_suppkey) as supplier_cnt
         from lineitem join part on p_partkey = l_partkey
         where p_brand <> 'Brand#45' and p_type <> 'PROMO'
           and p_size in (1, 4, 7, 9, 10, 14, 19, 23, 45)
           and l_suppkey not in (select s_suppkey from supplier where s_acctbal < 100)
         group by p_brand, p_type, p_size
         order by supplier_cnt desc, p_brand, p_type, p_size
         limit 25""",
    // Q17 shape: correlated scalar AVG against the joined outer — the
    // small-quantity-order classic
    "q_tpch_q17" ->
      """select round(sum(l_extendedprice) / 7.0, 2) as avg_yearly
         from lineitem join part on p_partkey = l_partkey
         where p_brand = 'Brand#23' and p_type = 'MEDIUM'
           and l_quantity < (select 0.5 * avg(l2.l_quantity) from lineitem l2 where l2.l_partkey = p_partkey)""",
    // Q18 shape: grouped-HAVING IN over the fact table itself
    "q_tpch_q18" ->
      """select c_name, c_custkey, o_orderkey, cast(cast(o_orderdate as date) as varchar) as odate,
                o_totalprice, round(sum(l_quantity), 2) as total_qty
         from customer
           join orders on c_custkey = o_custkey
           join lineitem on o_orderkey = l_orderkey
         where o_orderkey in (select l_orderkey from lineitem group by l_orderkey having sum(l_quantity) > 250)
         group by c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         order by o_totalprice desc, o_orderkey
         limit 100""",
    // Q19 shape: disjunctive predicates spanning BOTH join sides —
    // the residual-OR-over-equi-join classic
    "q_tpch_q19" ->
      """select round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
         from lineitem join part on p_partkey = l_partkey
         where (p_brand = 'Brand#12' and p_size between 1 and 5 and l_quantity between 1 and 11)
            or (p_brand = 'Brand#23' and p_size between 1 and 10 and l_quantity between 10 and 20)
            or (p_brand = 'Brand#34' and p_size between 1 and 15 and l_quantity between 20 and 30)""",
    // Q20 shape: nested IN chain (supplier ← grouped-HAVING lineitem
    // ← LIKE-filtered part)
    "q_tpch_q20" ->
      """select s_name, s_acctbal
         from supplier
         where s_suppkey in (
           select l_suppkey from lineitem
           where l_partkey in (select p_partkey from part where p_name like 'red%')
             and l_shipdate >= date '1996-01-01' and l_shipdate < date '1997-01-01'
           group by l_suppkey
           having sum(l_quantity) > 400)
         order by s_name""",
    // Q21 shape: the waiting-supplier EXISTS + NOT EXISTS pair, both
    // theta-correlated (<> on suppkey within the same order)
    "q_tpch_q21" ->
      """select s_name, count(*) as numwait
         from supplier
           join lineitem l1 on s_suppkey = l1.l_suppkey
           join orders on o_orderkey = l1.l_orderkey
           join nation on s_nationkey = n_nationkey
         where o_orderstatus = 'F' and l1.l_returnflag = 'R'
           and n_name in ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
           and exists (select * from lineitem l2
                       where l2.l_orderkey = l1.l_orderkey and l2.l_suppkey <> l1.l_suppkey)
           and not exists (select * from lineitem l3
                           where l3.l_orderkey = l1.l_orderkey and l3.l_suppkey <> l1.l_suppkey
                             and l3.l_returnflag = 'R')
         group by s_name
         order by numwait desc, s_name
         limit 100""",
    // Q22 shape: uncorrelated scalar AVG threshold + anti-join on
    // customers with no recent orders
    "q_tpch_q22" ->
      """select cntrycode, count(*) as numcust, round(sum(c_acctbal), 2) as totacctbal
         from (select cast(c_nationkey % 10 as int) as cntrycode, c_acctbal, c_custkey
               from customer
               where c_nationkey % 10 in (1, 3, 5, 7, 9)
                 and c_acctbal > (select avg(c_acctbal) from customer
                                  where c_acctbal > 0 and c_nationkey % 10 in (1, 3, 5, 7, 9))) as potential
         where not exists (select * from orders
                           where o_custkey = c_custkey and o_orderdate >= date '2000-01-01')
         group by cntrycode
         order by cntrycode""",
    // --- set ops (rows 28-31)
    "q_union" ->
      """select n_name as name from nation where n_regionkey = 0
         union select n_name as name from nation where n_regionkey <= 1""",
    "q_union_all" ->
      """select n_name as name from nation where n_regionkey = 0
         union all select n_name as name from nation where n_regionkey <= 1""",
    // trailing ORDER BY/LIMIT binds to the whole union (the selected
    // column is the sort key, so tie-breaking can't differ)
    "q_union_order_limit" ->
      """select n_regionkey as k from nation union all
         select r_regionkey as k from region order by k desc limit 4""",
    "q_intersect" ->
      """select n_regionkey from nation
         intersect select r_regionkey from region where r_regionkey < 3""",
    "q_except" ->
      """select n_regionkey from nation
         except select r_regionkey from region where r_regionkey < 3""",
    // --- windows (rows 32-34)
    // bigint casts align rank dtypes across engines (Spark int,
    // DuckDB bigint)
    "q_rank" ->
      """select c_custkey,
           cast(rank() over (partition by c_nationkey order by c_acctbal desc, c_custkey) as bigint) as rk,
           cast(dense_rank() over (partition by c_nationkey order by c_mktsegment) as bigint) as drk
         from customer""",
    "q_window_agg" ->
      """select l_orderkey, l_linenumber,
           round(sum(l_quantity) over (partition by l_orderkey order by l_linenumber), 2) as running
         from lineitem""",
    // ROWS frames need a tie-free ordering (l_linenumber repeats per
    // order in the synthetic data) — l_extendedprice is a continuous
    // random double, unique within partition.
    "q_window_frame" ->
      """select l_orderkey, l_linenumber,
           round(sum(l_quantity) over (partition by l_orderkey order by l_extendedprice
             rows between 1 preceding and current row), 2) as w2,
           round(avg(l_quantity) over (partition by l_orderkey order by l_extendedprice
             rows between unbounded preceding and unbounded following), 4) as wall
         from lineitem""",
  )

  private val sharedSqlWindowExt: Seq[(String, String)] = Seq(
    // generic EXCLUDE fallback (r8, closing the r6/r7b walls): min/max
    // with RANGE frames and GROUP/TIES modes, plus DISTINCT + EXCLUDE
    // — graft materializes the frame per row and filters the excluded
    // elements; DuckDB runs every form NATIVELY, a true
    // cross-implementation check. RANGE frames tolerate order ties
    // (frames are value-determined); the one ROWS case rides the
    // tie-free l_extendedprice per the ROWS rule. The fixture is a
    // deterministic 1/5 subset: six per-element-interpreted fallback
    // columns over full lineitem measured 5.4 s of pure HOF dispatch
    // — the semantic-fallback cost is adjudicated in BASELINE.md, and
    // the full-corpus exclude entries (q_window_exclude*) already
    // exercise the subtraction fast paths at size.
    "q_window_exclude_ext" ->
      """select l_orderkey, l_linenumber,
           min(l_quantity) over (partition by l_orderkey order by l_quantity
             range between unbounded preceding and current row
             exclude group) as mn_g,
           max(l_quantity) over (partition by l_orderkey order by l_quantity
             range between unbounded preceding and current row
             exclude current row) as mx_c,
           min(l_quantity) over (partition by l_orderkey order by l_quantity
             range between unbounded preceding and unbounded following
             exclude ties) as mn_t,
           cast(count(distinct l_suppkey % 5) over (partition by l_orderkey
             order by l_extendedprice
             rows between unbounded preceding and current row
             exclude current row) as bigint) as cd_x,
           cast(sum(distinct l_suppkey % 5) over (partition by l_orderkey
             order by l_quantity
             range between unbounded preceding and current row
             exclude group) as double) as sd_g,
           cast(avg(distinct l_suppkey % 5) over (partition by l_orderkey
             order by l_quantity
             range between unbounded preceding and current row
             exclude ties) as double) as ad_t
         from lineitem where l_orderkey % 5 = 0""",
    // FILTER (WHERE …) on WINDOW aggregates (r8): the r4b CASE-wrap
    // lowering composes with the window path unchanged (NULL args are
    // invisible to every aggregate incl. the DISTINCT collect_set
    // form); DuckDB evaluates windowed FILTER natively — a true
    // cross-implementation check. Spark SQL itself REJECTS the form.
    "q_window_filter" ->
      """select l_orderkey, l_linenumber,
           round(sum(l_quantity) filter (where l_discount > 0.05)
             over (partition by l_orderkey order by l_extendedprice
               rows between unbounded preceding and current row), 2) as sf,
           cast(count(*) filter (where l_tax > 0.04)
             over (partition by l_orderkey) as bigint) as cf,
           cast(count(distinct l_suppkey % 3) filter (where l_quantity > 25)
             over (partition by l_orderkey) as bigint) as cdf
         from lineitem""",
    // RANGE frames with VALUE offsets (r5): the peers window is a
    // numeric band around the current row's order value
    "q_window_range" ->
      """select l_orderkey, l_linenumber,
           round(sum(l_quantity) over (partition by l_orderkey
             order by l_extendedprice
             range between 100 preceding and 100 following), 2) as band_qty
         from lineitem""",
    // graft window-function extensions (lead/lag/row_number) — same
    // text runs in DuckDB; l_extendedprice is tie-free per order
    "q_window_lead" ->
      """select l_orderkey, l_linenumber,
           lag(l_quantity, 1) over (partition by l_orderkey order by l_extendedprice) as prev_qty,
           lead(l_quantity, 1) over (partition by l_orderkey order by l_extendedprice) as next_qty,
           cast(row_number() over (partition by l_orderkey order by l_extendedprice) as bigint) as rn
         from lineitem""",
    // frame EXCLUDE (r5c): graft lowers sum/count/avg exclusions as
    // same-window subtraction (no native Spark support); DuckDB runs
    // the clause natively. l_quantity is integral-valued, so the
    // subtraction algebra is exact and matches DuckDB's re-summation.
    // The leave-one-out shape: each line against its order's OTHER
    // lines.
    "q_window_exclude" ->
      """select l_orderkey, l_linenumber,
           sum(l_quantity) over (partition by l_orderkey
             rows between unbounded preceding and unbounded following
             exclude current row) as others_qty,
           avg(l_quantity) over (partition by l_orderkey
             rows between unbounded preceding and unbounded following
             exclude current row) as loo_avg,
           cast(count(*) over (partition by l_orderkey order by l_quantity
             range between unbounded preceding and current row
             exclude group) as bigint) as before_grp,
           cast(count(*) over (partition by l_orderkey order by l_quantity
             range between unbounded preceding and current row
             exclude ties) as bigint) as no_ties
         from lineitem""",
    // min/max frame EXCLUDE (r6): extrema have no subtraction
    // decomposition, so graft splits the frame around the excluded
    // row — least/greatest of the [start,-1] and [+1,end] partial
    // aggregates over the SAME window sort; DuckDB runs the clause
    // natively. Leave-one-out extrema: each line vs its order's OTHER
    // lines; bounded trailing frames exercise the one-sided splits.
    "q_window_exclude_minmax" ->
      """select l_orderkey, l_linenumber,
           max(l_quantity) over (partition by l_orderkey
             rows between unbounded preceding and unbounded following
             exclude current row) as others_max,
           min(l_quantity) over (partition by l_orderkey
             rows between unbounded preceding and unbounded following
             exclude current row) as others_min,
           min(l_quantity) over (partition by l_orderkey
             order by l_extendedprice
             rows between 2 preceding and current row
             exclude current row) as prev2_min,
           max(l_quantity) over (partition by l_orderkey
             order by l_extendedprice
             rows between current row and 2 following
             exclude current row) as next2_max
         from lineitem""",
    // ROWS-frame GROUP/TIES EXCLUDE (r7): graft replays the frame's
    // ROWS bounds inside the peer-group partition (intersection of
    // peer group and frame) under a deterministic tiebreak; DuckDB
    // runs the clause natively with its OWN tie order. Tie order is
    // implementation-defined for ROWS frames, so the query is built
    // tie-order-INVARIANT: the aggregate arg is a function of the
    // order key (any position range has a fixed arg multiset) and the
    // per-row window values — pure functions of global position —
    // are re-aggregated per order-key group, collapsing the
    // position-to-row assignment the engines are free to differ on.
    // The unbounded-frame columns are per-row deterministic already
    // (frame always covers the whole peer group). floor() before the
    // int cast on both sides: Spark casts double→int by truncation,
    // DuckDB by rounding.
    "q_window_exclude_rows" ->
      """with w as (
           select cast(floor(c_custkey / 10) as int) as grp,
             sum(floor(c_custkey / 10)) over (partition by c_mktsegment
               order by floor(c_custkey / 10)
               rows between 9 preceding and 9 following
               exclude group) as vg,
             sum(floor(c_custkey / 10)) over (partition by c_mktsegment
               order by floor(c_custkey / 10)
               rows between 4 preceding and 2 following
               exclude ties) as vt,
             cast(count(*) over (partition by c_mktsegment
               order by floor(c_custkey / 10)
               rows between unbounded preceding and unbounded following
               exclude group) as bigint) as cg
           from customer)
         select grp,
                round(cast(sum(vg) as double), 4) as s_group,
                round(cast(sum(vt) as double), 4) as s_ties,
                cast(sum(cg) as bigint) as c_group
         from w group by grp""",
    // DISTINCT window aggregates (r7b): Spark rejects the native form
    // outright — graft lowers via collect_set over the same window
    // (count = size, sum/avg fold the set); DuckDB evaluates the
    // clause NATIVELY, a true cross-implementation check. The value
    // set {0..4} keeps sums exact in double; avg's division is the
    // same IEEE op on both engines (unrounded per the percent_rank
    // rule); the running form rides a tie-free ORDER BY.
    "q_window_distinct" ->
      """select c_custkey,
           cast(count(distinct c_nationkey % 5) over
             (partition by c_mktsegment) as bigint) as cd,
           cast(sum(distinct c_nationkey % 5) over
             (partition by c_mktsegment) as double) as sd,
           cast(avg(distinct c_nationkey % 5) over
             (partition by c_mktsegment) as double) as ad,
           cast(count(distinct c_nationkey) over (partition by c_mktsegment
             order by c_custkey) as bigint) as run_cd
         from customer""",
    // rank-family dialect extensions. pr/cd stay UNROUNDED: both
    // engines evaluate the identical (rank-1)/(n-1) IEEE division, so
    // raw doubles match bitwise, while round(x, 6) lands exactly on
    // .xx5 boundaries (multiples of 1/(n-1)) where rounding modes
    // diverge — same rationale as q_math's unrounded charge.
    "q_window_rank_ext" ->
      """select c_custkey,
           percent_rank() over (partition by c_nationkey order by c_acctbal, c_custkey) as pr,
           cume_dist() over (partition by c_nationkey order by c_acctbal, c_custkey) as cd,
           nth_value(c_custkey, 2) over (partition by c_nationkey order by c_acctbal, c_custkey
             rows between unbounded preceding and current row) as second_id
         from customer""",
  )

  /** graft-dialect SQL differs from the DuckDB oracle text. */
  private val dialectSql: Seq[(String, String, String)] = Seq(
    // COLUMNS expansion (r11c, DuckDB star-function): each matching
    // column expands in table order; alias prefixes the source name
    ("q_columns_expand",
      """select l_returnflag,
           max(columns('^l_(quantity|extendedprice)$')) as mx,
           count(columns('^l_.*key$')) as n
         from lineitem group by l_returnflag""",
      """select l_returnflag,
           max(l_quantity) as mx_l_quantity,
           max(l_extendedprice) as mx_l_extendedprice,
           count(l_orderkey) as n_l_orderkey,
           count(l_partkey) as n_l_partkey,
           count(l_suppkey) as n_l_suppkey
         from lineitem group by l_returnflag"""),
    // ASOF JOIN SQL surface (r7b): graft lowers it WITHOUT a join
    // (tag + union + one last/first_value window on the key
    // partition); DuckDB runs ASOF JOIN natively — a true
    // cross-implementation check of directions, tie inclusion and
    // LEFT-vs-inner row survival. (user_id, ts) is unique in the
    // events data, so the matched row is deterministic.
    ("q_asof_sql",
      """with p as (select event_id, user_id as pu,
                      unix_micros(cast(ts as timestamp)) as pt, value as pv
                    from events where event_type = 'purchase'),
              v as (select user_id as vu,
                      unix_micros(cast(ts as timestamp)) as vt,
                      event_id as view_id
                    from events where event_type = 'view')
         select event_id, pu, pt, pv, vt, view_id
         from p asof left join v on pu = vu and pt >= vt""",
      """with p as (select event_id, user_id as pu, epoch_us(ts) as pt,
                      value as pv
                    from events where event_type = 'purchase'),
              v as (select user_id as vu, epoch_us(ts) as vt,
                      event_id as view_id
                    from events where event_type = 'view')
         select event_id, pu, pt, pv, vt, view_id
         from p asof left join v on pu = vu and pt >= vt"""),
    // forward STRICT inner variant: the earliest view strictly after
    // each purchase; unmatched purchases drop (inner)
    ("q_asof_sql_fwd",
      """with p as (select event_id, user_id as pu,
                      unix_micros(cast(ts as timestamp)) as pt, value as pv
                    from events where event_type = 'purchase'),
              v as (select user_id as vu,
                      unix_micros(cast(ts as timestamp)) as vt,
                      event_id as view_id
                    from events where event_type = 'view')
         select event_id, pu, pt, pv, vt, view_id
         from p asof join v on pu = vu and pt < vt""",
      """with p as (select event_id, user_id as pu, epoch_us(ts) as pt,
                      value as pv
                    from events where event_type = 'purchase'),
              v as (select user_id as vu, epoch_us(ts) as vt,
                      event_id as view_id
                    from events where event_type = 'view')
         select event_id, pu, pt, pv, vt, view_id
         from p asof join v on pu = vu and pt < vt"""),
    // ASOF tolerance band (r8): a second bounded inequality on the
    // time pair — `pt - vt <= 30min` — lowers as a post-match CASE
    // bound (pandas merge_asof tolerance). DuckDB's ASOF has no
    // tolerance, so the oracle applies the same bound over the plain
    // ASOF result — an independent spelling of the identical
    // semantics (the nearest match either qualifies or nothing does).
    ("q_asof_sql_tol",
      """with p as (select event_id, user_id as pu,
                      unix_micros(cast(ts as timestamp)) as pt, value as pv
                    from events where event_type = 'purchase'),
              v as (select user_id as vu,
                      unix_micros(cast(ts as timestamp)) as vt,
                      event_id as view_id
                    from events where event_type = 'view')
         select event_id, pu, pt, pv, vt, view_id
         from p asof left join v
           on pu = vu and pt >= vt and pt - vt <= 1800000000""",
      """with p as (select event_id, user_id as pu, epoch_us(ts) as pt,
                      value as pv
                    from events where event_type = 'purchase'),
              v as (select user_id as vu, epoch_us(ts) as vt,
                      event_id as view_id
                    from events where event_type = 'view'),
              j as (select event_id, pu, pt, pv, vt, view_id
                    from p asof left join v on pu = vu and pt >= vt)
         select event_id, pu, pt, pv,
           case when pt - vt <= 1800000000 then vt end as vt,
           case when pt - vt <= 1800000000 then view_id end as view_id
         from j"""),
    // row-value constructors (r9): tuple IN (subquery) lowers to a
    // composite-key semi join; DuckDB 1.0 has NO multi-column IN, so
    // the oracle is the spelled-out EXISTS equivalent (identical
    // semantics in filter position)
    ("q_in_tuple",
      """select o_orderkey, o_custkey, o_orderstatus from orders
         where (o_custkey, o_orderstatus) in
           (select c_custkey, 'F' from customer
            where c_mktsegment = 'BUILDING')""",
      """select o_orderkey, o_custkey, o_orderstatus from orders
         where exists (select 1 from customer
                       where c_mktsegment = 'BUILDING'
                         and c_custkey = o_custkey
                         and o_orderstatus = 'F')"""),
    // tuple NOT IN with a NULL-bearing set member: full 3VL — a pair
    // that is (equal, NULL) makes the row comparison UNKNOWN, which
    // must drop the outer row; the oracle spells the standard's
    // "no row compares true-or-unknown" anti condition
    ("q_not_in_tuple",
      """select c_custkey from customer
         where (c_nationkey, c_mktsegment) not in
           (select n_nationkey,
                   case when n_name like 'A%' then null
                        else 'BUILDING' end
            from nation)""",
      """select c_custkey from customer
         where not exists (select 1 from nation
           where (n_nationkey = c_nationkey
                  or n_nationkey is null or c_nationkey is null)
             and ((case when n_name like 'A%' then null
                        else 'BUILDING' end) = c_mktsegment
                  or (case when n_name like 'A%' then null
                           else 'BUILDING' end) is null
                  or c_mktsegment is null))"""),
    // GROUPS frames + min/max/sum EXCLUDE (r10, the last 36ba cell):
    // the Grps pre-pass lowers GROUPS to RANGE over the dense_rank
    // ordinal, and the r8 generic collect fallback then covers
    // min/max EXCLUDE on that RANGE form — the two compose with no
    // new machinery. DuckDB 1.0 has NO GROUPS frames, so the oracle
    // is the SAME dense_rank+RANGE rewrite with its native EXCLUDE —
    // a true cross-check of the composition. All columns are
    // value-determined (tie-immune); 1/5 fixture convention.
    ("q_groups_exclude",
      """select l_orderkey, l_linenumber,
           min(l_quantity) over (partition by l_orderkey order by l_quantity
             groups between 1 preceding and current row
             exclude group) as mn_g,
           max(l_quantity) over (partition by l_orderkey order by l_quantity
             groups between 1 preceding and current row
             exclude current row) as mx_c,
           min(l_quantity) over (partition by l_orderkey order by l_quantity
             groups between current row and 1 following
             exclude ties) as mn_t,
           round(sum(l_quantity) over (partition by l_orderkey
             order by l_quantity
             groups between 1 preceding and 1 following
             exclude group), 2) as sm_g
         from lineitem where l_orderkey % 5 = 1""",
      """with d as (select l_orderkey, l_linenumber, l_quantity,
             dense_rank() over (partition by l_orderkey
                                order by l_quantity) as dr
           from lineitem where l_orderkey % 5 = 1)
         select l_orderkey, l_linenumber,
           min(l_quantity) over (partition by l_orderkey order by dr
             range between 1 preceding and current row
             exclude group) as mn_g,
           max(l_quantity) over (partition by l_orderkey order by dr
             range between 1 preceding and current row
             exclude current row) as mx_c,
           min(l_quantity) over (partition by l_orderkey order by dr
             range between current row and 1 following
             exclude ties) as mn_t,
           round(sum(l_quantity) over (partition by l_orderkey order by dr
             range between 1 preceding and 1 following
             exclude group), 2) as sm_g
         from d"""),
    // correlated tuple IN in FLAG position (r10, the last 36bi wall):
    // projected 3VL flag with an equality-key + theta correlation —
    // lowered through the distinct-outer-tuple existence flag (the
    // 36n machinery with a composite probe). DuckDB has no
    // multi-column IN, so the oracle spells the standard's 3VL table:
    // strictly-true exists -> TRUE; not-strictly-false exists -> NULL;
    // else FALSE.
    ("q_in_tuple_corr_flag",
      """select c_custkey,
           (c_nationkey, c_mktsegment) in
             (select n_nationkey,
                     case when n_name like 'A%' then null
                          else 'BUILDING' end
              from nation
              where n_regionkey = c_custkey % 5
                and n_nationkey <= c_acctbal / 250.0) as f
         from customer""",
      """select c_custkey,
           case when exists (select 1 from nation
                  where n_regionkey = c_custkey % 5
                    and n_nationkey <= c_acctbal / 250.0
                    and n_nationkey = c_nationkey
                    and (case when n_name like 'A%' then null
                              else 'BUILDING' end) = c_mktsegment)
                then true
                when exists (select 1 from nation
                  where n_regionkey = c_custkey % 5
                    and n_nationkey <= c_acctbal / 250.0
                    and (n_nationkey = c_nationkey
                         or n_nationkey is null or c_nationkey is null)
                    and ((case when n_name like 'A%' then null
                               else 'BUILDING' end) = c_mktsegment
                         or (case when n_name like 'A%' then null
                                  else 'BUILDING' end) is null
                         or c_mktsegment is null))
                then cast(null as boolean)
                else false end as f
         from customer"""),
    // correlated tuple NOT IN under OR (flag position, filter): the
    // spelled anti form — NOT EXISTS a not-strictly-false row in the
    // correlation group (filter position is semantics-identical)
    ("q_not_in_tuple_corr_flag",
      """select c_custkey from customer
         where (c_nationkey, c_mktsegment) not in
             (select n_nationkey,
                     case when n_name like 'A%' then null
                          else 'BUILDING' end
              from nation where n_regionkey = c_custkey % 5)
            or c_acctbal > 9900""",
      """select c_custkey from customer
         where not exists (select 1 from nation
                 where n_regionkey = c_custkey % 5
                   and (n_nationkey = c_nationkey
                        or n_nationkey is null or c_nationkey is null)
                   and ((case when n_name like 'A%' then null
                              else 'BUILDING' end) = c_mktsegment
                        or (case when n_name like 'A%' then null
                                 else 'BUILDING' end) is null
                        or c_mktsegment is null))
            or c_acctbal > 9900"""),
    // EXCLUDE on windowed ordered-set collects (r9, 36ar's last
    // wall; deterministic 1/5 lineitem subset — the q_window_exclude_ext
    // fixture convention, adjudicated in BASELINE): graft sorts elements by the call-level ORDER BY; DuckDB
    // windowed string_agg/list has NO in-call order (appends in frame
    // order), so both sides canonicalize to the VALUE-sorted list —
    // multiset equality of the post-exclusion frame, immune to tie
    // order. The ROWS-bounded column orders by l_extendedprice
    // (tie-free within an order); GROUP/TIES columns use the tied
    // l_returnflag order with a whole-partition frame (tie-immune).
    ("q_agg_string_exclude",
      """select l_orderkey, l_linenumber,
           string_agg(cast(l_linenumber as string), ','
               order by l_linenumber) over
             (partition by l_orderkey order by l_extendedprice
              rows between 2 preceding and 2 following
              exclude current row) as sa_cur,
           string_agg(cast(l_linenumber as string), ','
               order by l_linenumber) over
             (partition by l_orderkey order by l_returnflag
              rows between unbounded preceding and unbounded following
              exclude group) as sa_grp,
           array_join(array_agg(cast(l_linenumber as string)
               order by l_linenumber) over
             (partition by l_orderkey order by l_returnflag
              rows between unbounded preceding and unbounded following
              exclude ties), ',') as aa_ties
         from lineitem where l_orderkey % 5 = 0""",
      """select l_orderkey, l_linenumber,
           array_to_string(list_sort(list(l_linenumber::varchar) over
             (partition by l_orderkey order by l_extendedprice
              rows between 2 preceding and 2 following
              exclude current row)), ',') as sa_cur,
           array_to_string(list_sort(list(l_linenumber::varchar) over
             (partition by l_orderkey order by l_returnflag
              rows between unbounded preceding and unbounded following
              exclude group)), ',') as sa_grp,
           array_to_string(list_sort(list(l_linenumber::varchar) over
             (partition by l_orderkey order by l_returnflag
              rows between unbounded preceding and unbounded following
              exclude ties)), ',') as aa_ties
         from lineitem where l_orderkey % 5 = 0"""),
    // string/regexp/null-handling function parity (r7b): same names
    // and semantics in both engines except the pinned divergences —
    // Spark regexp_replace is global (DuckDB needs the 'g' flag),
    // Spark instr = DuckDB strpos, Spark's string typename = varchar
    ("q_string_fns",
      """select c_custkey,
           split_part(c_name, '#', 2) as sp,
           left(c_name, 8) as lf, right(c_name, 3) as rt,
           reverse(c_mktsegment) as rv,
           lpad(cast(c_nationkey as string), 4, '0') as lp,
           concat_ws('|', c_mktsegment, c_name) as cw,
           regexp_extract(c_name, '([0-9]+)', 1) as re,
           regexp_replace(c_name, '0', '_') as rr,
           cast(instr(c_name, '#') as bigint) as ps,
           greatest(c_custkey, cast(c_nationkey as bigint)) as g,
           nullif(c_nationkey, 5) as nf,
           cast(ifnull(nullif(c_nationkey, 5), -1) as bigint) as inn
         from customer""",
      """select c_custkey,
           split_part(c_name, '#', 2) as sp,
           left(c_name, 8) as lf, right(c_name, 3) as rt,
           reverse(c_mktsegment) as rv,
           lpad(cast(c_nationkey as varchar), 4, '0') as lp,
           concat_ws('|', c_mktsegment, c_name) as cw,
           regexp_extract(c_name, '([0-9]+)', 1) as re,
           regexp_replace(c_name, '0', '_', 'g') as rr,
           cast(strpos(c_name, '#') as bigint) as ps,
           greatest(c_custkey, cast(c_nationkey as bigint)) as g,
           nullif(c_nationkey, 5) as nf,
           cast(ifnull(nullif(c_nationkey, 5), -1) as bigint) as inn
         from customer"""),
    // lambda higher-order functions (r7b): element lambdas only (the
    // cross-engine subset — DuckDB's indexed lambda is 1-based vs
    // Spark's 0-based); the oracle re-derives the aggregate via
    // list_sum since DuckDB has no init-carrying reduce. Spark
    // sequence is end-INCLUSIVE vs DuckDB range end-EXCLUSIVE.
    // array subscript + struct field access (r11, SURVEY 36bj):
    // postfix `arr[i]` lowers to try_element_at (1-based; out-of-
    // range reads NULL like DuckDB, never an ANSI error) and dotted
    // field paths resolve through the derived-table struct
    ("q_array_subscript",
      """select t.doc_id, t.s.a as sa, s.b as sb,
           split(lower(t.txt), ' ')[1] as w1,
           split(lower(t.txt), ' ')[2 + t.doc_id % 3] as w_mid,
           split(lower(t.txt), ' ')[9999] as w_oob
         from (select doc_id, text as txt,
                 named_struct('a', n_chars, 'b', lang) as s
               from documents) t""",
      """select doc_id, n_chars as sa, lang as sb,
           string_split(lower(text), ' ')[1] as w1,
           string_split(lower(text), ' ')[2 + doc_id % 3] as w_mid,
           string_split(lower(text), ' ')[9999] as w_oob
         from documents"""),
    // list slicing + list/struct/map literals (r11b, SURVEY 36bk):
    // `w[lo:hi]` 1-based inclusive with omittable/negative bounds
    // (DuckDB list slicing — lo clamps to 1, hi to len, inverted
    // ranges read empty), `[a, b]` list literals, `{'k': v}` struct
    // literals with dotted field access, `MAP {k: v}` map literals.
    // DuckDB's map subscript returns a LIST of values, so its side
    // unwraps with [1]; graft reads the element directly.
    // every joined slice carries a `|| ['~']` sentinel: DuckDB's
    // array_to_string reads NULL on an EMPTY list where Spark's
    // array_join reads '' — the appended element makes both engines
    // render the same string for empty and [''] alike
    ("q_array_slice",
      """select t.doc_id,
           array_to_string(w[2:4] || ['~'], ' ') as s_mid,
           array_to_string(w[:3] || ['~'], ' ') as s_head,
           array_to_string(w[-3:] || ['~'], ' ') as s_tail,
           array_to_string(w[:-2] || ['~'], ' ') as s_drop,
           array_to_string(w[0:2] || ['~'], ' ') as s_zero,
           array_to_string(w[5:9999] || ['~'], ' ') as s_clamp,
           array_to_string(w[4:2] || ['~'], ' ') as s_empty,
           array_to_string(w[:] || ['~'], ' ') as s_all,
           array_to_string([t.lang, 'x', 'y'][2:], ' ') as s_lit
         from (select doc_id, lang, split(lower(text), ' ') as w
               from documents) t""",
      """select t.doc_id,
           array_to_string(w[2:4] || ['~'], ' ') as s_mid,
           array_to_string(w[:3] || ['~'], ' ') as s_head,
           array_to_string(w[-3:] || ['~'], ' ') as s_tail,
           array_to_string(w[:-2] || ['~'], ' ') as s_drop,
           array_to_string(w[0:2] || ['~'], ' ') as s_zero,
           array_to_string(w[5:9999] || ['~'], ' ') as s_clamp,
           array_to_string(w[4:2] || ['~'], ' ') as s_empty,
           array_to_string(w[:] || ['~'], ' ') as s_all,
           array_to_string([t.lang, 'x', 'y'][2:], ' ') as s_lit
         from (select doc_id, lang, string_split(lower(text), ' ') as w
               from documents) t"""),
    ("q_struct_literal",
      """select doc_id,
           {'w': n_chars, 'l': lang}.w as sw,
           {'w': n_chars, 'l': lang}.l as sl,
           {'a': {'b': n_chars + 1}}.a.b as nested,
           map {lang: n_chars}[lang] as mv,
           map {lang: n_chars}[source] as mv_miss
         from documents""",
      """select doc_id,
           {'w': n_chars, 'l': lang}.w as sw,
           {'w': n_chars, 'l': lang}.l as sl,
           {'a': {'b': n_chars + 1}}.a.b as nested,
           (map {lang: n_chars})[lang][1] as mv,
           (map {lang: n_chars})[source][1] as mv_miss
         from documents"""),
    ("q_list_lambda",
      """select c_custkey,
           array_to_string(transform(sequence(1, 1 + c_custkey % 5),
             x -> x * x), ',') as sq,
           array_to_string(list_filter(sequence(1, 1 + c_custkey % 5),
             x -> x % 2 = 1), ',') as od,
           aggregate(sequence(1, 1 + c_custkey % 5), cast(0 as bigint),
             (acc, x) -> acc + x) as sm
         from customer""",
      """select c_custkey,
           array_to_string(list_transform(range(1, 2 + c_custkey % 5),
             x -> x * x), ',') as sq,
           array_to_string(list_filter(range(1, 2 + c_custkey % 5),
             x -> x % 2 = 1), ',') as od,
           cast(list_sum(range(1, 2 + c_custkey % 5)) as bigint) as sm
         from customer"""),
    // GROUPS frame mode (r7b): graft lowers GROUPS as RANGE over a
    // hidden dense_rank ordinal (Spark has no GROUPS frame type).
    // DuckDB 1.0 does not implement GROUPS either ("not implemented
    // yet"), so the oracle is the spelled-out two-step rewrite —
    // dense_rank subquery + RANGE frame + peer-group algebra —
    // evaluated by DuckDB's own window engine. GROUPS frames always
    // cover WHOLE peer groups, so per-row values are
    // tie-order-independent by construction (integral-valued sums
    // keep the arithmetic exact); EXCLUDE GROUP/TIES compose through
    // the same frame algebra.
    ("q_window_groups",
      """select c_custkey,
           cast(sum(floor(c_custkey / 10)) over (partition by c_mktsegment
             order by floor(c_custkey / 10)
             groups between 2 preceding and 1 following) as double) as g_sum,
           cast(count(*) over (partition by c_mktsegment
             order by floor(c_custkey / 10)
             groups between 1 preceding and current row) as bigint) as g_cnt,
           cast(sum(floor(c_custkey / 10)) over (partition by c_mktsegment
             order by floor(c_custkey / 10)
             groups between 1 preceding and 1 following
             exclude group) as double) as g_exg,
           cast(sum(floor(c_custkey / 10)) over (partition by c_mktsegment
             order by floor(c_custkey / 10)
             groups between unbounded preceding and current row
             exclude ties) as double) as g_ext
         from customer""",
      """with b as (
           select c_custkey, c_mktsegment, floor(c_custkey / 10) as k,
             dense_rank() over (partition by c_mktsegment
               order by floor(c_custkey / 10)) as g
           from customer)
         select c_custkey,
           sum(k) over (partition by c_mktsegment order by g
             range between 2 preceding and 1 following) as g_sum,
           cast(count(*) over (partition by c_mktsegment order by g
             range between 1 preceding and current row) as bigint) as g_cnt,
           case when count(*) over (partition by c_mktsegment order by g
               range between 1 preceding and 1 following) >
             count(*) over (partition by c_mktsegment, g)
             then sum(k) over (partition by c_mktsegment order by g
               range between 1 preceding and 1 following) -
               sum(k) over (partition by c_mktsegment, g) end as g_exg,
           sum(k) over (partition by c_mktsegment order by g
             range between unbounded preceding and current row) -
             sum(k) over (partition by c_mktsegment, g) + k as g_ext
         from b"""),
    // oracle casts align literal dtypes: graft integral literals are
    // bigint, fractional are double; DuckDB defaults to int32/decimal
    ("q_literals",
      "select n_nationkey, 42 as i, 2.5 as d, 'x' as s, true as b, " +
        "timestamp('2020-01-02', '03:04:05') as ts from nation",
      "select n_nationkey, 42::BIGINT as i, 2.5::DOUBLE as d, 'x' as s, true as b, " +
        "TIMESTAMP '2020-01-02 03:04:05' as ts from nation"),
    // PIVOT (r5): one output column per IN value; oracle is the
    // conditional-aggregation expansion (l_quantity is integral-valued
    // so unrounded double sums are exact in any order)
    ("q_pivot",
      """select * from (select l_returnflag, l_linestatus, l_quantity from lineitem)
         pivot (sum(l_quantity) for l_linestatus in ('O' as qty_o, 'F' as qty_f))""",
      """select l_returnflag,
           sum(case when l_linestatus = 'O' then l_quantity end) as qty_o,
           sum(case when l_linestatus = 'F' then l_quantity end) as qty_f
         from lineitem group by l_returnflag"""),
    // dynamic PIVOT (r11b): no IN list — the translator discovers the
    // distinct FOR values with one bounded driver-side pass (exactly
    // Spark's own pivot(col) behavior), columns in sorted value
    // order; the oracle hardcodes the five langs the corpus carries
    ("q_pivot_dynamic",
      """select * from (select source, lang from documents)
         pivot (count(*) for lang)""",
      """select source,
           count(*) filter (where lang = 'de') as de,
           count(*) filter (where lang = 'en') as en,
           count(*) filter (where lang = 'es') as es,
           count(*) filter (where lang = 'fr') as fr,
           count(*) filter (where lang = 'zh') as zh
         from documents group by source"""),
    // deterministic SQL-level sampling (r5b): USING SAMPLE p% KEY —
    // the md5-threshold membership as a relation clause (pure
    // pushdown-friendly filter, engine-replayable)
    ("q_sample_sql",
      "select count(*) as n, min(l_orderkey) as first_k " +
        "from lineitem using sample 25% key (l_orderkey)",
      "select count(*) as n, min(l_orderkey) as first_k from lineitem " +
        s"where substring(md5(cast(l_orderkey as varchar)), 1, 8) < " +
        s"'${graft.ops.Sampling.thresholdHex(0.25)}'"),
    // multi-aggregate PIVOT (r5b): values × aggregates cells named
    // value_aggAlias, still ONE two-phase aggregation (conditional-
    // aggregation lowering); oracle is the expansion
    ("q_pivot_multi",
      """select * from (select l_returnflag, l_linestatus, l_quantity from lineitem)
         pivot (sum(l_quantity) as s, count(*) as c
                for l_linestatus in ('O' as o, 'F' as f))""",
      """select l_returnflag,
           sum(case when l_linestatus = 'O' then l_quantity end) as o_s,
           count(case when l_linestatus = 'O' then 1 end)::BIGINT as o_c,
           sum(case when l_linestatus = 'F' then l_quantity end) as f_s,
           count(case when l_linestatus = 'F' then 1 end)::BIGINT as f_c
         from lineitem group by l_returnflag"""),
    // FETCH FIRST n ROWS WITH TIES (r5): every row tied on the sort
    // key with the n-th row survives — lowered TakeOrdered(n) →
    // distinct key tuples → broadcast semi-join (never a global rank
    // window); oracle is the equivalent rank() filter (DuckDB has no
    // WITH TIES)
    ("q_fetch_ties",
      """select c_custkey, c_nationkey from customer
         order by c_nationkey fetch first 100 rows with ties""",
      """select c_custkey, c_nationkey from
           (select c_custkey, c_nationkey,
                   rank() over (order by c_nationkey) as rk from customer) t
         where rk <= 100"""),
    // DISTINCT ordered-set aggregate (r5b, PostgreSQL rule: the sort
    // key must be the aggregated expression) — dedup composes after
    // the comparator sort, first occurrences keep the order
    ("q_agg_string_distinct",
      """select c_nationkey,
           string_agg(distinct c_mktsegment, '|' order by c_mktsegment) as segs
         from customer group by c_nationkey""",
      """select c_nationkey,
           string_agg(distinct c_mktsegment, '|' order by c_mktsegment) as segs
         from customer group by c_nationkey"""),
    // windowed ordered-set aggregate (r5b): every row reads its
    // partition's full ordered string_agg (OVER takes PARTITION BY
    // only); the oracle is the equivalent GROUP BY aggregation over
    // the distinct projection
    ("q_agg_string_window",
      """select distinct c_nationkey,
           string_agg(c_mktsegment, '|' order by c_mktsegment, c_custkey)
             over (partition by c_nationkey) as segs
         from customer where c_custkey % 7 = 0""",
      """select c_nationkey,
           string_agg(c_mktsegment, '|' order by c_mktsegment, c_custkey) as segs
         from customer where c_custkey % 7 = 0 group by c_nationkey"""),
    // windowed ordered-set aggregate with OVER-level ORDER BY + frame
    // (r7, closing the r5b wall): the window's order/frame select the
    // ROWS (running prefix here), the call's ORDER BY orders the
    // ELEMENTS. DuckDB has no in-window aggregate ORDER BY — its
    // windowed string_agg appends in FRAME order, equivalent because
    // the internal order matches the (total) window order
    ("q_agg_string_running",
      """select o_custkey, o_orderkey,
           string_agg(cast(o_orderkey as string), ',' order by o_orderkey)
             over (partition by o_custkey order by o_orderkey
                   rows between unbounded preceding and current row) as so_far,
           string_agg(cast(o_orderkey as string), ',' order by o_orderkey)
             over (partition by o_custkey order by o_orderkey
                   rows between 1 preceding and 1 following) as nearby
         from orders where o_custkey % 97 = 0""",
      """select o_custkey, o_orderkey,
           string_agg(cast(o_orderkey as varchar), ',')
             over (partition by o_custkey order by o_orderkey
                   rows between unbounded preceding and current row) as so_far,
           string_agg(cast(o_orderkey as varchar), ',')
             over (partition by o_custkey order by o_orderkey
                   rows between 1 preceding and 1 following) as nearby
         from orders where o_custkey % 97 = 0"""),
    // FROM-position unnest WITH ORDINALITY (r5b, PostgreSQL form):
    // one Generate (posexplode) over the scan, 1-based ordinality;
    // oracle is DuckDB's zipped parallel-unnest spelling
    ("q_unnest_from",
      """select doc_id, t.tok, t.ord
         from documents, unnest(string_split(lower(text), ' '))
              with ordinality as t(tok, ord)
         where doc_id % 40 = 0""",
      """select doc_id,
           unnest(string_split(lower(text), ' ')) as tok,
           unnest(generate_series(1, len(string_split(lower(text), ' ')))) as ord
         from documents where doc_id % 40 = 0"""),
    // UNPIVOT (r5): wide → long via one stack() projection; NULLs kept
    ("q_unpivot",
      """select c_custkey, kind, val from
           (select c_custkey, c_acctbal, c_acctbal * 0.5 as half from customer)
         unpivot (val for kind in (c_acctbal as 'bal', half as 'half'))""",
      """select c_custkey, 'bal' as kind, c_acctbal as val from customer
         union all
         select c_custkey, 'half' as kind, c_acctbal * 0.5 as val from customer"""),
  )

  // ---- pipeline operators (SURVEY §2.2) -----------------------------
  // DataFrame-API operators from graft.ops with DuckDB oracle SQL that
  // replays the identical algorithm (same md5 hashes, same double
  // accumulation order), so even LSH bucketing is hash-verified.

  import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
  import graft.streaming.Streaming

  private def docs(s: SparkSession, dir: String) =
    graftFor(s, dir); // keep session cache warm
  // memoized: spark.read.parquet re-lists files and re-reads footers
  // per call (~50 ms of driver-side floor per query otherwise); the
  // returned DataFrame is an unexecuted plan, safe to share
  private val tables = TrieMap.empty[(SparkSession, String, String), DataFrame]
  private def tbl(s: SparkSession, dir: String, name: String) =
    tables.getOrElseUpdate((s, dir, name),
      s.read.parquet(s"$dir/$name.parquet"))

  /** events with ts normalized to epoch MICROS (bigint `t`) — works
    * for both testdata vintages (int64 nanos read as long pre-r5;
    * parquet timestamp[us] read as TIMESTAMP_NTZ from r5). Sessions
    * run UTC, so the NTZ→TIMESTAMP cast is instant-preserving and
    * matches DuckDB's epoch_us(ts). */
  private def eventMicros(s: SparkSession, dir: String) = {
    val ev = tbl(s, dir, "events")
    val t = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => "ts div 1000"
      case _ => "unix_micros(cast(ts as timestamp))"
    }
    ev.selectExpr("event_id", "user_id", s"$t as t", "value", "event_type")
  }

  /** Drops the session/table memos. Bench and Verify call this on
    * entry: the memo only pays for itself WITHIN one invocation
    * (~50 ms of parquet footer re-reads per query), while across
    * invocations it would serve a stale file listing for a rewritten
    * data directory and pin retired SparkSessions in memory. */
  def clearCaches(): Unit =
    { sessions.clear(); tables.clear(); Graft.clearDirCache() }

  // DuckDB-side builders mirroring the ops' expression generation
  private val duckMins =
    (for (s <- 0 until Dedup.NumHashes / 4; j <- 0 until 4) yield
      s"min(substr(md5('$s:' || s), ${j * 8 + 1}, 8)) as h${s * 4 + j}").mkString(", ")
  private val duckOrs =
    (0 until Dedup.NumHashes / Dedup.BandRows).map { b =>
      (0 until Dedup.BandRows)
        .map(r => s"a.h${b * Dedup.BandRows + r} = b.h${b * Dedup.BandRows + r}")
        .mkString("(", " and ", ")")
    }.mkString(" or ")
  private val duckShingleCtes =
    """with tok as (select doc_id, string_split(lower(text), ' ') as w from documents),
       sh as (select doc_id, list_distinct(list_transform(
                range(1, greatest(len(w) - 2, 1) + 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) as shingles from tok),
       ex as (select doc_id, unnest(shingles) as s from sh),
       mh as (select doc_id, """ + duckMins + " from ex group by doc_id)"
  private def duckSimhashTerms(bits: Int) = (0 until bits).map { j =>
    s"(case when list_sum(list_transform(hs, h -> ((h >> $j) & 1)::BIGINT * 2 - 1)) > 0 then 1 else 0 end) * ${1L << j}"
  }.mkString(" + ")
  private def duckPlaneDot(j: Int) =
    s"list_sum(list_transform(embedding, (x, i) -> x::DOUBLE * (((i*31 + $j*17) % 7 - 3)::DOUBLE)))"
  private val duckBucket = (0 until Similarity.Planes).map { j =>
    s"(case when ${duckPlaneDot(j)} >= 0 then 1 else 0 end) * ${1 << j}"
  }.mkString(" + ")
  private val duckEmbCte =
    s"""with e as (select vec_id, embedding,
          list_sum(list_transform(embedding, (x, i) -> x::DOUBLE * x::DOUBLE)) as norm2,
          $duckBucket as bucket from embeddings)"""
  private def duckBandBucket(t: Int) =
    (0 until Similarity.DupBandBits).map { j =>
      s"(case when ${duckPlaneDot(t * Similarity.DupBandBits + j)} >= 0 then 1 else 0 end) * ${1 << j}"
    }.mkString(" + ")
  private val duckBandEmbCte =
    s"""with e as (select vec_id, embedding,
          list_sum(list_transform(embedding, (x, i) -> x::DOUBLE * x::DOUBLE)) as norm2,
          ${(0 until Similarity.DupBands).map(t => s"${duckBandBucket(t)} as bucket_$t").mkString(", ")}
        from embeddings),
        n as (select vec_id, t.band,
                case t.band ${(0 until Similarity.DupBands).map(t => s"when $t then bucket_$t").mkString(" ")} end as bucket
              from e, (select unnest([${(0 until Similarity.DupBands).mkString(", ")}]) as band) t),
        cand as (select distinct a.vec_id as id_a, b.vec_id as id_b
                 from n a join n b
                   on a.band = b.band and a.bucket = b.bucket and a.vec_id < b.vec_id)"""
  private def duckPairCos(a: String, b: String) =
    s"""list_sum(list_transform($a.embedding, (x, i) -> x::DOUBLE * ($b.embedding[i])::DOUBLE))
        / (sqrt($a.norm2) * sqrt($b.norm2))"""
  private def duckLangScore(ws: Seq[String]) =
    s"round(len(list_filter(w, t -> t in (${ws.map("'" + _ + "'").mkString(", ")}))) / len(w), 6)"

  /** name → (runner, optional DuckDB oracle). */
  private val opEntries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q_dedup_exact",
      (s: SparkSession, dir: String) => Dedup.exactDuplicates(tbl(s, dir, "documents")),
      Some("""select min(doc_id) as keep_id, count(*) as copies
              from documents group by md5(text) having count(*) > 1""")),
    ("q_dedup_minhash",
      (s: SparkSession, dir: String) => Dedup.minhashCandidates(tbl(s, dir, "documents")),
      Some(s"""$duckShingleCtes
               select a.doc_id as id_a, b.doc_id as id_b
               from mh a join mh b on a.doc_id < b.doc_id and ($duckOrs)""")),
    ("q_dedup_jaccard",
      (s: SparkSession, dir: String) => Dedup.jaccardPairs(tbl(s, dir, "documents"), 0.5),
      Some(s"""$duckShingleCtes,
               cand as (select a.doc_id as id_a, b.doc_id as id_b
                        from mh a join mh b on a.doc_id < b.doc_id and ($duckOrs))
               select id_a, id_b, round(jacc, 4) as jacc from (
                 select c.id_a, c.id_b,
                   len(list_intersect(sa.shingles, sb.shingles))
                     / len(list_distinct(list_concat(sa.shingles, sb.shingles))) as jacc
                 from cand c
                 join sh sa on sa.doc_id = c.id_a
                 join sh sb on sb.doc_id = c.id_b) t
               where jacc >= 0.5""")),
    // near-dup cluster resolution: verified pairs -> connected
    // components -> (member, group representative); oracle replays
    // components via a recursive transitive-closure CTE
    ("q_dedup_groups",
      (s: SparkSession, dir: String) => Dedup.duplicateGroups(tbl(s, dir, "documents"), 0.5),
      Some(s"""${duckShingleCtes.replaceFirst("with ", "with recursive ")},
               cand as (select a.doc_id as id_a, b.doc_id as id_b
                        from mh a join mh b on a.doc_id < b.doc_id and ($duckOrs)),
               vp as (select id_a, id_b from (
                        select c.id_a, c.id_b,
                          len(list_intersect(sa.shingles, sb.shingles))
                            / len(list_distinct(list_concat(sa.shingles, sb.shingles))) as jacc
                        from cand c
                        join sh sa on sa.doc_id = c.id_a
                        join sh sb on sb.doc_id = c.id_b) t
                      where jacc >= 0.5),
               edges as (select id_a as src, id_b as dst from vp
                         union select id_b, id_a from vp),
               reach(id, r) as (
                 select distinct src, src from edges
                 union
                 select h.id, e.dst from reach h join edges e on e.src = h.r)
               select id as doc_id, min(r) as group_id from reach group by id""")),
    // soft dedup (r10): near-duplicates reweighted to 1/|group|
    // instead of dropped; the oracle extends the recursive-CC replay
    // with group sizes and a corpus-wide left join
    ("q_dedup_soft_weights",
      (s: SparkSession, dir: String) =>
        Dedup.softDedupWeights(tbl(s, dir, "documents"), 0.5),
      Some(s"""${duckShingleCtes.replaceFirst("with ", "with recursive ")},
               cand as (select a.doc_id as id_a, b.doc_id as id_b
                        from mh a join mh b on a.doc_id < b.doc_id and ($duckOrs)),
               vp as (select id_a, id_b from (
                        select c.id_a, c.id_b,
                          len(list_intersect(sa.shingles, sb.shingles))
                            / len(list_distinct(list_concat(sa.shingles, sb.shingles))) as jacc
                        from cand c
                        join sh sa on sa.doc_id = c.id_a
                        join sh sb on sb.doc_id = c.id_b) t
                      where jacc >= 0.5),
               edges as (select id_a as src, id_b as dst from vp
                         union select id_b, id_a from vp),
               reach(id, r) as (
                 select distinct src, src from edges
                 union
                 select h.id, e.dst from reach h join edges e on e.src = h.r),
               grp as (select id as doc_id, min(r) as group_id
                       from reach group by id),
               sz as (select group_id, count(*) as n
                      from grp group by group_id)
               select d.doc_id, g.group_id,
                 coalesce(1.0 / s.n, 1.0) as weight
               from documents d
               left join grp g on d.doc_id = g.doc_id
               left join sz s on g.group_id = s.group_id""")),
    ("q_dedup_simhash",
      (s: SparkSession, dir: String) => Dedup.withSimhash(tbl(s, dir, "documents")),
      Some(s"""with hs as (select doc_id, list_transform(string_split(lower(text), ' '),
                 t -> ('0x' || substr(md5(t), 1, 15))::UBIGINT) as hs from documents)
               select doc_id, cast(${duckSimhashTerms(16)} as bigint) as simhash from hs""")),
    // 60-bit simhash + hamming-banded candidate pairs (4 x 15-bit
    // chunks; hamming <= 3 implies at least one identical chunk)
    ("q_dedup_simhash_pairs",
      (s: SparkSession, dir: String) => Dedup.simhashPairs(tbl(s, dir, "documents")),
      Some(s"""with hs as (select doc_id, list_transform(string_split(lower(text), ' '),
                 t -> ('0x' || substr(md5(t), 1, 15))::UBIGINT) as hs from documents),
               sg as (select doc_id, cast(${duckSimhashTerms(60)} as bigint) as sh from hs),
               bands as (select doc_id, sh, t.band,
                           ((sh >> (t.band * 15)) & 32767) as chunk
                         from sg, (select unnest([0, 1, 2, 3]) as band) t)
               select distinct a.doc_id as id_a, b.doc_id as id_b,
                 cast(bit_count(xor(a.sh, b.sh)) as bigint) as hamming
               from bands a join bands b
                 on a.band = b.band and a.chunk = b.chunk and a.doc_id < b.doc_id
               where bit_count(xor(a.sh, b.sh)) <= 3""")),
    // threshold 0.3: the synthetic corpus plants no true embedding
    // dups (max pairwise cosine ≈ 0.37), so a production-style 0.9
    // would make the check vacuous
    ("q_dedup_embed",
      (s: SparkSession, dir: String) => Similarity.embeddingDupPairs(tbl(s, dir, "embeddings"), 0.3),
      Some(s"""$duckBandEmbCte
               select id_a, id_b, round(cos, 4) as cos_sim from (
                 select c.id_a, c.id_b, ${duckPairCos("a", "b")} as cos
                 from cand c
                 join e a on a.vec_id = c.id_a
                 join e b on b.vec_id = c.id_b) t
               where cos >= 0.3""")),
    // SemDeDup-style semantic dedup: within-cell cosine pairs →
    // connected groups → keep min-id per group. Cells are the
    // precomputed label column (trained k-means form spec-tested:
    // a float-accumulating trainer can't replay cross-engine).
    ("q_dedup_semantic",
      (s: SparkSession, dir: String) => Similarity.semanticDedupFrom(
        tbl(s, dir, "embeddings"), 0.3, cellCol = "label"),
      Some("""with recursive e as (select vec_id, label as cell, embedding,
                 list_sum(list_transform(embedding, (x, i) -> x::DOUBLE * x::DOUBLE)) as norm2
               from embeddings),
               vp as (select a.vec_id as id_a, b.vec_id as id_b
                      from e a join e b on a.cell = b.cell and a.vec_id < b.vec_id
                      where list_sum(list_transform(a.embedding, (x, i) -> x::DOUBLE * (b.embedding[i])::DOUBLE))
                              / (sqrt(a.norm2) * sqrt(b.norm2)) >= 0.3),
               edges as (select id_a as src, id_b as dst from vp
                         union select id_b, id_a from vp),
               reach(id, r) as (
                 select distinct src, src from edges
                 union
                 select h.id, e2.dst from reach h join edges e2 on e2.src = h.r),
               grp as (select id, min(r) as group_id from reach group by id)
               select e.vec_id, e.cell,
                 coalesce(g.group_id, e.vec_id) as group_id,
                 coalesce(g.group_id, e.vec_id) = e.vec_id as kept
               from e left join grp g on g.id = e.vec_id""")),
    // kNN graph (r10): per-vector top-k within label cells — the
    // corpus-wide self-join form; sim ties break on dst like the ANN
    // family, ranking over the 6dp-rounded sim on both engines
    ("q_knn_graph",
      (s: SparkSession, dir: String) =>
        Similarity.knnGraphFrom(tbl(s, dir, "embeddings"), 3, cellCol = "label"),
      Some(s"""with e as (select * from (select vec_id, label as cell, embedding,
                 list_sum(list_transform(embedding, (x, i) -> x::DOUBLE * x::DOUBLE)) as norm2
               from embeddings) where norm2 > 0),
               scored as (select a.vec_id as src, b.vec_id as dst,
                            round(${duckPairCos("a", "b")}, 6) as sim
                          from e a join e b
                            on a.cell = b.cell and a.vec_id <> b.vec_id)
               select src, dst, sim,
                 row_number() over (partition by src order by sim desc, dst) as rnk
               from scored qualify rnk <= 3""")),
    // hard-negative mining (r11b): top-k most-similar DIFFERENT-label
    // neighbors within deterministic hash cells (vec_id % 8 — labels
    // mix inside every cell, unlike the label-cell knn entry); the
    // oracle replays pairs + label inequality + rank
    ("q_hard_negatives",
      (s: SparkSession, dir: String) =>
        Similarity.hardNegatives(
          tbl(s, dir, "embeddings")
            .withColumn("cell", F.expr("vec_id % 8")), 3),
      Some(s"""with e as (select * from (select vec_id, label,
                 vec_id % 8 as cell, embedding,
                 list_sum(list_transform(embedding, (x, i) -> x::DOUBLE * x::DOUBLE)) as norm2
               from embeddings) where norm2 > 0),
               scored as (select a.vec_id as src, a.label as src_label,
                            b.vec_id as dst, b.label as dst_label,
                            round(${duckPairCos("a", "b")}, 6) as sim
                          from e a join e b
                            on a.cell = b.cell and a.label <> b.label)
               select src, src_label, dst, dst_label, sim,
                 row_number() over (partition by src order by sim desc, dst) as rnk
               from scored qualify rnk <= 3""")),
    // kNN label propagation (r11b): the odd-id half takes the
    // majority label of its 3 nearest even-id (labeled) cell-mates;
    // hash cells (vec_id % 8) bound the join, ties break to the
    // smallest label — DuckDB replays join, rank, vote, argmax
    ("q_knn_classify",
      (s: SparkSession, dir: String) => {
        val e = tbl(s, dir, "embeddings")
          .withColumn("cell", F.expr("vec_id % 8"))
        Similarity.knnClassify(
          e.filter("vec_id % 2 = 0"),
          e.filter("vec_id % 2 <> 0").drop("label"), 3)
      },
      Some(s"""with e as (select vec_id, label, vec_id % 8 as cell, embedding,
                 list_sum(list_transform(embedding, (x, i) -> x::DOUBLE * x::DOUBLE)) as norm2
               from embeddings),
               l as (select * from e where vec_id % 2 = 0 and norm2 > 0),
               q as (select * from e where vec_id % 2 <> 0 and norm2 > 0),
               scored as (select q.vec_id, l.vec_id as lid, l.label as lbl,
                            round(${duckPairCos("q", "l")}, 6) as sim
                          from q join l on q.cell = l.cell),
               topk as (select * from (select vec_id, lid, lbl, sim,
                          row_number() over (partition by vec_id
                            order by sim desc, lid) as rnk from scored)
                        where rnk <= 3),
               voted as (select vec_id, lbl, count(*) as votes,
                           row_number() over (partition by vec_id
                             order by count(*) desc, lbl) as vr
                         from topk group by vec_id, lbl),
               ku as (select vec_id, count(*) as k_used
                      from topk group by vec_id)
               select u.vec_id, v.lbl as pred_label,
                 cast(coalesce(v.votes, 0) as bigint) as votes,
                 cast(coalesce(ku.k_used, 0) as bigint) as k_used
               from (select vec_id from embeddings where vec_id % 2 <> 0) u
               left join (select * from voted where vr = 1) v
                 on u.vec_id = v.vec_id
               left join ku on u.vec_id = ku.vec_id""")),
    ("q_ann_brute",
      (s: SparkSession, dir: String) => Similarity.bruteForceTopK(tbl(s, dir, "embeddings"), "vec_id < 10", 5),
      Some(s"""$duckEmbCte,
               scored as (select q.vec_id as query_id, c.vec_id as neighbor_id,
                            round(${duckPairCos("q", "c")}, 6) as sim
                          from e q join e c on q.vec_id < 10 and c.vec_id <> q.vec_id)
               select query_id, neighbor_id, sim,
                 row_number() over (partition by query_id order by sim desc, neighbor_id) as rnk
               from scored qualify rnk <= 5""")),
    ("q_ann_lsh",
      (s: SparkSession, dir: String) => Similarity.lshTopK(tbl(s, dir, "embeddings"), "vec_id < 10", 3),
      Some(s"""$duckEmbCte,
               scored as (select q.vec_id as query_id, c.vec_id as neighbor_id,
                            round(${duckPairCos("q", "c")}, 6) as sim
                          from e q join e c on q.bucket = c.bucket
                            and q.vec_id < 10 and c.vec_id <> q.vec_id)
               select query_id, neighbor_id, sim,
                 row_number() over (partition by query_id order by sim desc, neighbor_id) as rnk
               from scored qualify rnk <= 3""")),
    ("q_ann_lsh_multiprobe",
      (s: SparkSession, dir: String) => Similarity.lshTopKMultiProbe(tbl(s, dir, "embeddings"), "vec_id < 10", 3),
      Some(s"""$duckEmbCte,
               q as (select vec_id as query_id, embedding, norm2,
                       unnest([bucket${(0 until Similarity.Planes).map(j => s", xor(bucket, ${1 << j})").mkString}]) as qbucket
                     from e where vec_id < 10),
               scored as (select q.query_id, c.vec_id as neighbor_id,
                            round(${duckPairCos("q", "c")}, 6) as sim
                          from q join e c on q.qbucket = c.bucket
                            and c.vec_id <> q.query_id)
               select query_id, neighbor_id, sim,
                 row_number() over (partition by query_id order by sim desc, neighbor_id) as rnk
               from scored qualify rnk <= 3""")),
    // recall@k audit (r12): LSH top-5 measured against brute-force
    // ground truth on the same queries — the production dial for
    // every bucketed ANN variant. Oracle composes the two existing
    // replay CTEs and counts the per-query intersection.
    ("q_ann_recall",
      (s: SparkSession, dir: String) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.annRecall(
          Similarity.lshTopK(emb, "vec_id < 10", 5),
          Similarity.bruteForceTopK(emb, "vec_id < 10", 5))
      },
      Some(s"""$duckEmbCte,
               brs as (select q.vec_id as query_id, c.vec_id as neighbor_id,
                         round(${duckPairCos("q", "c")}, 6) as sim
                       from e q join e c on q.vec_id < 10 and c.vec_id <> q.vec_id),
               ex as (select query_id, neighbor_id from (
                        select query_id, neighbor_id,
                          row_number() over (partition by query_id
                            order by sim desc, neighbor_id) as rnk
                        from brs) where rnk <= 5),
               lss as (select q.vec_id as query_id, c.vec_id as neighbor_id,
                         round(${duckPairCos("q", "c")}, 6) as sim
                       from e q join e c on q.bucket = c.bucket
                         and q.vec_id < 10 and c.vec_id <> q.vec_id),
               ap as (select query_id, neighbor_id from (
                        select query_id, neighbor_id,
                          row_number() over (partition by query_id
                            order by sim desc, neighbor_id) as rnk
                        from lss) where rnk <= 5)
               select x.query_id, count(*)::bigint as n_exact,
                 sum(case when a.neighbor_id is not null then 1 else 0 end)::bigint as n_hit,
                 sum(case when a.neighbor_id is not null then 1 else 0 end)::double
                   / count(*) as recall
               from ex x left join ap a
                 on x.query_id = a.query_id and x.neighbor_id = a.neighbor_id
               group by 1""")),
    // reciprocal-rank fusion (r12): brute + LSH rankings fused with
    // the standard RRF score sum(1/(60+rank)); identical coalesce
    // arithmetic both engines, so the doubles compare bitwise
    ("q_ann_rrf",
      (s: SparkSession, dir: String) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.rrfFuse(
          Similarity.bruteForceTopK(emb, "vec_id < 10", 5),
          Similarity.lshTopK(emb, "vec_id < 10", 5), 60)
      },
      Some(s"""$duckEmbCte,
               brs as (select q.vec_id as query_id, c.vec_id as neighbor_id,
                         round(${duckPairCos("q", "c")}, 6) as sim
                       from e q join e c on q.vec_id < 10 and c.vec_id <> q.vec_id),
               ex as (select query_id, neighbor_id, rnk from (
                        select query_id, neighbor_id,
                          row_number() over (partition by query_id
                            order by sim desc, neighbor_id) as rnk
                        from brs) where rnk <= 5),
               lss as (select q.vec_id as query_id, c.vec_id as neighbor_id,
                         round(${duckPairCos("q", "c")}, 6) as sim
                       from e q join e c on q.bucket = c.bucket
                         and q.vec_id < 10 and c.vec_id <> q.vec_id),
               ap as (select query_id, neighbor_id, rnk from (
                        select query_id, neighbor_id,
                          row_number() over (partition by query_id
                            order by sim desc, neighbor_id) as rnk
                        from lss) where rnk <= 5),
               fused as (select coalesce(x.query_id, a.query_id) as query_id,
                           coalesce(x.neighbor_id, a.neighbor_id) as neighbor_id,
                           coalesce(1.0::DOUBLE / (60 + x.rnk), 0)
                             + coalesce(1.0::DOUBLE / (60 + a.rnk), 0) as rrf
                         from ex x full outer join ap a
                           on x.query_id = a.query_id
                          and x.neighbor_id = a.neighbor_id)
               select query_id, neighbor_id, rrf,
                 row_number() over (partition by query_id
                   order by rrf desc, neighbor_id)::BIGINT as fused_rank
               from fused""")),
    ("q_ann_ivf",
      (s: SparkSession, dir: String) => Similarity.ivfTopK(tbl(s, dir, "embeddings"), "vec_id < 10", 3),
      Some(s"""with e as (select vec_id, embedding, label,
                 list_sum(list_transform(embedding, (x, i) -> x::DOUBLE * x::DOUBLE)) as norm2
               from embeddings),
               scored as (select q.vec_id as query_id, c.vec_id as neighbor_id,
                            round(${duckPairCos("q", "c")}, 6) as sim
                          from e q join e c on q.label = c.label
                            and q.vec_id < 10 and c.vec_id <> q.vec_id)
               select query_id, neighbor_id, sim,
                 row_number() over (partition by query_id order by sim desc, neighbor_id) as rnk
               from scored qualify rnk <= 3""")),
    // persisted-quantizer IVF assignment (r11, SURVEY row 123): the
    // frozen centroid table (deterministic 8-cell seed quantizer)
    // assigns the whole corpus with EXACT integer lattice math —
    // DuckDB replays cell AND distance bit-for-bit; ties to the
    // lowest cell in both engines
    ("q_ann_assign",
      (s: SparkSession, dir: String) => {
        val emb = tbl(s, dir, "embeddings")
        Similarity.ivfAssign(emb, Similarity.ivfSeedCentroids(emb, 8))
          .select("vec_id", "cell", "cell_d")
      },
      Some("""with z as (select vec_id,
                  case when list_max(list_transform(embedding, v -> abs(v::DOUBLE))) = 0
                    then list_transform(embedding, v -> 0::BIGINT)
                    else list_transform(embedding,
                      v -> floor(v::DOUBLE * 127
                             / list_max(list_transform(embedding, v2 -> abs(v2::DOUBLE)))
                             + 0.5)::BIGINT)
                  end as ql
                from embeddings),
              cent as (select row_number() over (order by vec_id) - 1 as cell,
                         ql as cq
                       from z order by vec_id limit 8),
              dist as (select z.vec_id, c.cell,
                         cast(list_sum(list_transform(range(1, len(z.ql) + 1),
                           i -> (z.ql[i] - c.cq[i]) * (z.ql[i] - c.cq[i]))) as bigint) as d
                       from z cross join cent c),
              best as (select vec_id, min(d) as cell_d from dist group by vec_id)
              select b.vec_id, min(dd.cell) as cell, b.cell_d
              from best b
              join dist dd on b.vec_id = dd.vec_id and b.cell_d = dd.d
              group by b.vec_id, b.cell_d""")),
    ("q_text_langid",
      (s: SparkSession, dir: String) => TextAnalysis.langId(tbl(s, dir, "documents")),
      Some(s"""select doc_id, s_en, s_es, s_fr, s_de,
                 case when s_en >= s_es and s_en >= s_fr and s_en >= s_de then 'en'
                      when s_es >= s_fr and s_es >= s_de then 'es'
                      when s_fr >= s_de then 'fr'
                      else 'de' end as pred_lang
               from (select doc_id,
                 ${duckLangScore(TextAnalysis.stopwords("en"))} as s_en,
                 ${duckLangScore(TextAnalysis.stopwords("es"))} as s_es,
                 ${duckLangScore(TextAnalysis.stopwords("fr"))} as s_fr,
                 ${duckLangScore(TextAnalysis.stopwords("de"))} as s_de
               from (select doc_id, string_split(lower(text), ' ') as w from documents))""")),
    ("q_text_quality",
      (s: SparkSession, dir: String) => TextAnalysis.qualityScore(tbl(s, dir, "documents")),
      Some(s"""select doc_id, n_chars_m, round(s, 6) as stop_ratio,
                 round(p, 6) as punct_ratio,
                 round(s * 0.5 + (1.0 - p) * 0.5, 6) as quality
               from (select doc_id, length(text) as n_chars_m,
                 len(list_filter(w, t -> t in (${TextAnalysis.stopwords("en").map("'" + _ + "'").mkString(", ")}))) / len(w) as s,
                 (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
                   / length(text) as p
               from (select doc_id, text, string_split(lower(text), ' ') as w from documents))""")),
    // model-based quality gate (r7b): the APPLY side with fixed
    // weights — every feature op is exact-rounded IEEE on identical
    // rounded inputs, so margins replay bit-identically in DuckDB
    // (the trainer, like pqTrain, is pinned by spec instead)
    ("q_quality_gate",
      (s: SparkSession, dir: String) =>
        graft.ops.Quality.scoreGate(tbl(s, dir, "documents"),
          wStop = 2.0, wPunct = -3.0, wLen = 1.5, intercept = -0.8),
      Some(s"""with q as (
                 select doc_id, n_chars_m, round(s, 6) as stop_ratio,
                   round(p, 6) as punct_ratio
                 from (select doc_id, length(text) as n_chars_m,
                   len(list_filter(w, t -> t in (${TextAnalysis.stopwords("en").map("'" + _ + "'").mkString(", ")}))) / len(w) as s,
                   (length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))
                     / length(text) as p
                 from (select doc_id, text, string_split(lower(text), ' ') as w
                       from documents)))
               select doc_id, stop_ratio, punct_ratio,
                 n_chars_m / (n_chars_m + 500.0) as len_sat,
                 -0.8 + stop_ratio * 2.0 + punct_ratio * (-3.0) +
                   (n_chars_m / (n_chars_m + 500.0)) * 1.5 as margin,
                 (-0.8 + stop_ratio * 2.0 + punct_ratio * (-3.0) +
                   (n_chars_m / (n_chars_m + 500.0)) * 1.5) > 0 as keep
               from q""")),
    // Gopher-style rule bundle (r11b): the Rae et al. 2021 heuristic
    // battery as one zero-shuffle projection — pure counting +
    // exact-rounded IEEE division, so DuckDB replays every metric,
    // flag, and the conjunction bit-identically. Thresholds tuned so
    // the synthetic corpus produces a real keep/drop mix (word-count
    // band + at least one 'the'/'to'-family stopword hit).
    ("q_quality_gopher",
      (s: SparkSession, dir: String) =>
        graft.ops.Quality.gopherRules(tbl(s, dir, "documents"),
          minWords = 30, maxWords = 10000, minStopHits = 1),
      Some(s"""with b as (select doc_id, text,
                 list_filter(regexp_split_to_array(text, '\\s+'),
                   t -> t <> '') as w,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                   t -> t <> '') as lw,
                 string_split(text, chr(10)) as ln
               from documents),
               m as (select doc_id,
                 cast(len(w) as bigint) as n_words,
                 length(array_to_string(w, '')) / len(w) as mean_word_len,
                 ((length(text) - length(replace(text, '#', '')))
                   + (length(text) - length(replace(text, '...', ''))) / 3)
                  / len(w) as symbol_ratio,
                 len(list_filter(ln, l ->
                   substring(ltrim(l), 1, 1) in ('•', '-', '*')))
                  / len(ln) as bullet_frac,
                 len(list_filter(ln, l -> rtrim(l) like '%...'))
                  / len(ln) as ellipsis_frac,
                 len(list_filter(w, t -> regexp_matches(t, '[a-zA-Z]')))
                  / len(w) as alpha_frac,
                 cast(len(list_intersect(lw,
                   [${graft.ops.Quality.GopherStopwords.map("'" + _ + "'").mkString(", ")}]))
                  as bigint) as n_stop_hits
               from b),
               f as (select *,
                 coalesce(n_words between 30 and 10000, false) as f_words,
                 coalesce(mean_word_len between 3.0 and 10.0,
                   false) as f_mean_len,
                 coalesce(symbol_ratio <= 0.1, false) as f_symbols,
                 coalesce(bullet_frac <= 0.9, false) as f_bullets,
                 coalesce(ellipsis_frac <= 0.3, false) as f_ellipsis,
                 coalesce(alpha_frac >= 0.8, false) as f_alpha,
                 coalesce(n_stop_hits >= 1, false) as f_stopwords
               from m)
               select doc_id, n_words,
                 round(mean_word_len, 6) as mean_word_len,
                 round(symbol_ratio, 6) as symbol_ratio,
                 round(bullet_frac, 6) as bullet_frac,
                 round(ellipsis_frac, 6) as ellipsis_frac,
                 round(alpha_frac, 6) as alpha_frac, n_stop_hits,
                 f_words, f_mean_len, f_symbols, f_bullets, f_ellipsis,
                 f_alpha, f_stopwords,
                 (f_words and f_mean_len and f_symbols and f_bullets
                  and f_ellipsis and f_alpha and f_stopwords) as keep
               from f""")),
    // retention funnel (r11c): per-stage survivor counts with
    // first-failure drop attribution — one corpus scan, one global
    // agg, stack unpivot; the oracle replays the cumulative flags
    ("q_quality_funnel",
      (s: SparkSession, dir: String) =>
        graft.ops.Quality.retentionFunnel(tbl(s, dir, "documents"), Seq(
          "non_empty" -> "text is not null and length(text) > 0",
          "char_band" -> "n_chars between 200 and 100000",
          "word_min" -> "size(filter(split(text, '\\\\s+'), t -> t <> '')) >= 30",
          "has_the" -> "lower(text) like '% the %'")),
      Some("""with f as (select text, n_chars,
                 coalesce(text is not null and length(text) > 0,
                   false) as c1 from documents),
              f2 as (select *, c1 and coalesce(
                 n_chars between 200 and 100000, false) as c2 from f),
              f3 as (select *, c2 and coalesce(
                 len(list_filter(regexp_split_to_array(text, '\s+'),
                   t -> t <> '')) >= 30, false) as c3 from f2),
              f4 as (select *, c3 and coalesce(
                 lower(text) like '% the %', false) as c4 from f3),
              a as (select count(*) as total,
                 cast(sum(case when c1 then 1 else 0 end) as bigint) as n1,
                 cast(sum(case when c2 then 1 else 0 end) as bigint) as n2,
                 cast(sum(case when c3 then 1 else 0 end) as bigint) as n3,
                 cast(sum(case when c4 then 1 else 0 end) as bigint) as n4
               from f4)
              select 1 as stage_idx, 'non_empty' as stage, total as n_in,
                n1 as n_pass, total - n1 as n_drop from a
              union all select 2, 'char_band', n1, n2, n1 - n2 from a
              union all select 3, 'word_min', n2, n3, n2 - n3 from a
              union all select 4, 'has_the', n3, n4, n3 - n4 from a""")),
    ("q_text_tokens",
      (s: SparkSession, dir: String) => TextAnalysis.tokenCounts(tbl(s, dir, "documents")),
      Some("""select doc_id,
                len(regexp_split_to_array(trim(text), '\s+')) as n_ws_tokens,
                len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) as n_bpe_tokens
              from documents""")),
    // greedy longest-match subword token counts (r8): the native trie
    // walk's semantics are EXACTLY a longest-first regex alternation
    // plus the one-codepoint fallback, which the oracle replays —
    // overlapping vocab entries (table/tab, window/win) make the
    // longest-match rule load-bearing
    ("q_text_bpe",
      (s: SparkSession, dir: String) => TextAnalysis.bpeCount(
        tbl(s, dir, "documents"), TextAnalysis.DemoVocab),
      Some("""select doc_id,
                cast(len(regexp_extract_all(lower(text),
                  '(?s)window|stream|table|batch|value|scan|sort|quer|tab|win|val|a|e|s|t| |.',
                  0)) as bigint) as n_bpe
              from documents""")),
    ("q_text_normalize",
      (s: SparkSession, dir: String) => TextAnalysis.normalize(tbl(s, dir, "documents")),
      Some("""select doc_id,
                trim(regexp_replace(regexp_replace(lower(text),
                  '[^ -~]', '', 'g'), ' +', ' ', 'g')) as norm_text
              from documents""")),
    ("q_text_mask",
      (s: SparkSession, dir: String) => TextAnalysis.maskSensitive(tbl(s, dir, "documents")),
      Some("""select doc_id,
                regexp_replace(regexp_replace(text,
                  '[a-z0-9.+_-]+@[a-z0-9-]+\.[a-z]+', '<email>', 'g'),
                  '[0-9]+', '#', 'g') as masked_text
              from documents""")),
    ("q_text_fingerprint",
      (s: SparkSession, dir: String) => TextAnalysis.fingerprint(tbl(s, dir, "documents")),
      Some("""select doc_id,
                list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
                  i -> md5(substr(text, i, 8)))) as fp
              from documents""")),
    ("q_multimodal_meta",
      (s: SparkSession, dir: String) => Multimodal.metaFeatures(tbl(s, dir, "documents")),
      Some("""select doc_id, octet_length(text::BLOB) as n_bytes,
                octet_length(text::BLOB) % 640 as width,
                (octet_length(text::BLOB) * 7) % 480 as height,
                octet_length(text::BLOB) % 30 + 1 as n_frames
              from documents""")),
    // same oracle through the typed mapPartitions decode path —
    // verifies the encoder/batching plumbing, not just the SQL form
    ("q_multimodal_decode",
      (s: SparkSession, dir: String) => Multimodal.decodeFeatures(tbl(s, dir, "documents")),
      Some("""select doc_id, octet_length(text::BLOB) as n_bytes,
                octet_length(text::BLOB) % 640 as width,
                (octet_length(text::BLOB) * 7) % 480 as height,
                octet_length(text::BLOB) % 30 + 1 as n_frames
              from documents""")),
    ("q_events_window",
      (s: SparkSession, dir: String) => Streaming.windowedCounts(tbl(s, dir, "events")),
      Some("""select epoch(time_bucket(INTERVAL 1 hour, ts))::BIGINT as bucket_start,
                event_type, count(*) as n, round(sum(value), 2) as sum_value
              from events group by 1, 2""")),
    // oracle replays session-window semantics via lag(): a new session
    // starts when the micros gap to the previous event is >= 30 min
    // (Spark's session window end is exclusive)
    // time-series resample + gap fill (r7b): hourly buckets per user
    // between each user's first and last event, gaps materialized,
    // forward-filled; sums round 4dp (summation order) AFTER the fill
    // on both sides
    ("q_resample",
      (s: SparkSession, dir: String) =>
        graft.ops.TimeSeries.resample(
          eventMicros(s, dir).filter("event_type = 'purchase'"),
          "user_id", "t", "value", 3600000000L, fill = "ffill")
          .selectExpr("user_id", "bucket_start", "n",
            "round(value, 4) as value"),
      Some("""with e as (select user_id, epoch_us(ts) // 3600000000 as b,
                           value
                         from events where event_type = 'purchase'),
                   sp as (select user_id, min(b) as lo, max(b) as hi
                          from e group by user_id),
                   spine as (select user_id,
                               unnest(generate_series(lo, hi)) as b
                             from sp),
                   a as (select user_id, b, count(*) as n,
                           sum(value) as sv
                         from e group by 1, 2)
              select spine.user_id, spine.b * 3600000000 as bucket_start,
                coalesce(a.n, 0) as n,
                round(last_value(a.sv ignore nulls) over (
                  partition by spine.user_id order by spine.b), 4) as value
              from spine left join a
                on spine.user_id = a.user_id and spine.b = a.b""")),
    ("q_events_sessions",
      (s: SparkSession, dir: String) => Streaming.sessionize(tbl(s, dir, "events")),
      Some("""with l as (select user_id, ts, value,
                  lag(ts) over (partition by user_id order by ts) as prev
                from events),
              s as (select user_id, ts, value,
                  sum(case when prev is null
                           or epoch_us(ts) - epoch_us(prev) >= 1800000000
                      then 1 else 0 end)
                    over (partition by user_id order by ts
                          rows unbounded preceding) as sid
                from l)
              select user_id,
                (epoch_us(min(ts)) // 1000000)::BIGINT as session_start,
                count(*) as n, round(sum(value), 2) as sum_value
              from s group by user_id, sid""")),
    // DuckDB's native ASOF JOIN is the oracle for the composed
    // union+window as-of implementation
    ("q_asof_join",
      (s: SparkSession, dir: String) => {
        val ev = eventMicros(s, dir)
        val p = ev.filter("event_type = 'purchase'")
          .select("event_id", "user_id", "t", "value")
        val v = ev.filter("event_type = 'view'")
          .selectExpr("user_id", "t as vt", "event_id as view_id")
        graft.ops.AsOf.join(p, v, "user_id", "t", "vt", "view_id")
      },
      Some("""with p as (select event_id, user_id, epoch_us(ts) as t, value
                         from events where event_type = 'purchase'),
                   v as (select event_id as view_id, user_id, epoch_us(ts) as vt
                         from events where event_type = 'view')
              select p.event_id, p.user_id, p.t, p.value,
                     v.vt as asof_time, v.view_id as asof_value
              from p asof left join v
                on p.user_id = v.user_id and p.t >= v.vt""")),
    // forward as-of (earliest right row at/after left time) — oracle
    // is DuckDB's native ASOF with the inequality flipped
    ("q_asof_forward",
      (s: SparkSession, dir: String) => {
        val ev = eventMicros(s, dir)
        val p = ev.filter("event_type = 'purchase'")
          .select("event_id", "user_id", "t", "value")
        val v = ev.filter("event_type = 'view'")
          .selectExpr("user_id", "t as vt", "event_id as view_id")
        graft.ops.AsOf.joinForward(p, v, "user_id", "t", "vt", "view_id")
      },
      Some("""with p as (select event_id, user_id, epoch_us(ts) as t, value
                         from events where event_type = 'purchase'),
                   v as (select event_id as view_id, user_id, epoch_us(ts) as vt
                         from events where event_type = 'view')
              select p.event_id, p.user_id, p.t, p.value,
                     v.vt as asof_time, v.view_id as asof_value
              from p asof left join v
                on p.user_id = v.user_id and p.t <= v.vt""")),
    // as-of with a match tolerance (10 minutes in micros): matches
    // further back than the bound become NULL, pandas merge_asof-style
    ("q_asof_tolerance",
      (s: SparkSession, dir: String) => {
        val ev = eventMicros(s, dir)
        val p = ev.filter("event_type = 'purchase'")
          .select("event_id", "user_id", "t", "value")
        val v = ev.filter("event_type = 'view'")
          .selectExpr("user_id", "t as vt", "event_id as view_id")
        graft.ops.AsOf.join(p, v, "user_id", "t", "vt", "view_id",
          tolerance = Some(600000000L))
      },
      Some("""with p as (select event_id, user_id, epoch_us(ts) as t, value
                         from events where event_type = 'purchase'),
                   v as (select event_id as view_id, user_id, epoch_us(ts) as vt
                         from events where event_type = 'view')
              select p.event_id, p.user_id, p.t, p.value,
                     case when v.vt >= p.t - 600000000 then v.vt end as asof_time,
                     case when v.vt >= p.t - 600000000 then v.view_id end as asof_value
              from p asof left join v
                on p.user_id = v.user_id and p.t >= v.vt""")),
    // salted two-phase aggregation must equal the plain group-by
    ("q_skew_agg",
      (s: SparkSession, dir: String) =>
        graft.ops.Skew.saltedSumCount(tbl(s, dir, "events"),
          "event_type", "value", "event_id"),
      Some("""select event_type, round(sum(value), 2) as sum_value,
                count(*) as n
              from events group by event_type""")),
    // salted fact-dim join must equal the plain join (events.event_type
    // has ~5 values — every key is hot, the worst case for a plain
    // shuffle join)
    ("q_skew_join",
      (s: SparkSession, dir: String) => {
        val ev = tbl(s, dir, "events")
        val dim = ev.select("event_type").distinct()
          .withColumn("type_rank", F.row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy("event_type")).cast("long"))
        graft.ops.Skew.saltedJoin(ev.select("event_id", "event_type", "value"),
            dim, "event_type", "event_id")
          .select("event_id", "event_type", "type_rank")
      },
      Some("""select e.event_id, e.event_type, d.type_rank
              from events e
              join (select event_type,
                      row_number() over (order by event_type) as type_rank
                    from (select distinct event_type from events)) d
                on e.event_type = d.event_type""")),
    // approx corpus stats: HLL++ distinct + quantile sketch — the
    // 100 TB form of q_text_stats (fixed-size partial state instead of
    // exact percentile's full sort). Sketch VALUES are implementation-
    // specific (no cross-engine form), so the oracle checks the
    // sketch's documented ERROR CONTRACT instead (r7, closing the last
    // rows-only entry): the query emits per-group booleans "approx
    // within band of exact" — HLL++ at default rsd 0.05 within 3σ
    // (15% relative, +2 absolute slack for tiny groups), quantile
    // sketch at accuracy 10000 within its rank-error bound n/10000
    // (+1 rank slack) — and the oracle asserts the bands hold (TRUE
    // per group). A drifting sketch flips a flag and fails the hash.
    ("q_text_stats_approx",
      (s: SparkSession, dir: String) => {
        val d = tbl(s, dir, "documents")
        val approx = d.groupBy("lang")
          .agg(F.approx_count_distinct("source").as("__ns_a"),
               F.percentile_approx(F.col("n_chars"), F.lit(0.5), F.lit(10000))
                 .as("__med_a"))
        d.join(F.broadcast(approx), Seq("lang"))
          .groupBy("lang")
          .agg(F.countDistinct("source").as("__ns_e"),
               F.count("n_chars").as("__n"),
               F.sum(F.when(F.col("n_chars") < F.col("__med_a"), 1L)
                 .otherwise(0L)).as("__rank_lo"),
               F.sum(F.when(F.col("n_chars") <= F.col("__med_a"), 1L)
                 .otherwise(0L)).as("__rank_hi"),
               F.max("__ns_a").as("__ns_a"))
          .select(F.col("lang"),
            (F.abs(F.col("__ns_a") - F.col("__ns_e")) <=
              F.greatest(F.lit(2L),
                F.ceil(F.col("__ns_e") * 0.15))).as("distinct_in_band"),
            (F.col("__rank_lo") <=
              F.col("__n") * 0.5 + F.col("__n") / 10000.0 + 1.0 &&
             F.col("__rank_hi") >=
              F.col("__n") * 0.5 - F.col("__n") / 10000.0 - 1.0)
              .as("median_in_band"))
      },
      Some("""select lang, true as distinct_in_band,
                     true as median_in_band
              from documents group by lang""")),
    ("q_text_stats",
      (s: SparkSession, dir: String) =>
        tbl(s, dir, "documents").groupBy("lang")
          .agg(F.count(F.lit(1)).as("n"),
               F.round(F.expr("percentile(n_chars, 0.5)"), 4).as("median_chars"),
               F.round(F.expr("percentile(n_chars, 0.9)"), 4).as("p90_chars"),
               F.min("n_chars").as("min_chars"), F.max("n_chars").as("max_chars")),
      Some("""select lang, count(*) as n,
                round(quantile_cont(n_chars, 0.5), 4) as median_chars,
                round(quantile_cont(n_chars, 0.9), 4) as p90_chars,
                min(n_chars) as min_chars, max(n_chars) as max_chars
              from documents group by lang""")),
    // bitmap distinct count through Spark's bitmap_* built-ins vs
    // the plain COUNT(DISTINCT) oracle: every bigint has exactly one
    // (bucket, bit position), so per-(key, bucket) bitmap counts sum
    // to the exact distinct count; NULL keys set no bit
    ("q_bitmap_distinct",
      (s: SparkSession, dir: String) =>
        tbl(s, dir, "events")
          .groupBy(F.col("event_type"),
            F.bitmap_bucket_number(F.col("user_id")).as("bucket"))
          .agg(F.bitmap_count(F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("user_id")))).as("n"))
          .groupBy("event_type").agg(F.sum("n").as("n_users")),
      Some("""select event_type, count(distinct user_id) as n_users
              from events group by event_type""")),
    // JSON column extraction ≡ DuckDB json_extract_string. Schema'd
    // from_json, not get_json_object: Catalyst pushes the filter
    // through the projection, so the parse evaluates in BOTH the
    // filter and the project — the typed single-field parser is ~2x
    // cheaper per evaluation (measured 0.35 vs 0.66 s at sf0.1;
    // variant_get measured 0.57). Same values for numeric fields.
    ("q_json_extract",
      (s: SparkSession, dir: String) =>
        tbl(s, dir, "events").selectExpr("event_id",
          "from_json(props, 'k BIGINT').k as k")
          .filter("k is not null and k % 10 = 0"),
      Some("""select event_id, json_extract_string(props, '$.k')::BIGINT as k
              from events where json_extract_string(props, '$.k') is not null
                and json_extract_string(props, '$.k')::BIGINT % 10 = 0""")),
    // deterministic hash-ring negative sampling (r10): contrastive
    // pair mining — probe j of anchor a draws the corpus row with the
    // largest md5 <= md5(a||'|'||j) in the probe's 256-way shard
    // (wrapping to the shard max); DuckDB replays the whole ring walk
    ("q_negative_pairs",
      (s: SparkSession, dir: String) =>
        graft.ops.Sampling.hashNegatives(
          tbl(s, dir, "documents"), "doc_id", 2),
      Some("""with ids as (select distinct doc_id from documents),
              ring as (select doc_id as nid, md5(cast(doc_id as varchar)) as h,
                         substr(md5(cast(doc_id as varchar)), 1, 2) as b
                       from ids),
              probes as (select i.doc_id as anchor_id, j,
                           md5(cast(i.doc_id as varchar) || '|' || cast(j as varchar)) as t
                         from ids i, unnest(range(1, 3)) as u(j)),
              p2 as (select anchor_id, j, t, substr(t, 1, 2) as b from probes),
              u as (select b, h as o, 0 as side, h as rh,
                      null::bigint as anchor_id, null::bigint as j
                    from ring
                    union all
                    select b, t, 1, null, anchor_id, j from p2),
              w as (select *,
                      last_value(rh ignore nulls) over (partition by b
                        order by o, side
                        rows between unbounded preceding and current row) as mh,
                      max(rh) over (partition by b) as xh
                    from u)
              select w.anchor_id, w.j, r.nid as neg_id
              from w join ring r on r.b = w.b and r.h = coalesce(w.mh, w.xh)
              where w.side = 1 and r.nid <> w.anchor_id""")),
    ("q_sample_consistent",
      (s: SparkSession, dir: String) =>
        graft.ops.Sampling.consistentSample(
          tbl(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "doc_id", 0.25),
      Some(s"""select doc_id, lang, n_chars from documents
               where substr(md5(doc_id::VARCHAR), 1, 8) < '${f"${(0.25 * (1L << 32)).toLong}%08x"}'""")),
    // deterministic pseudo-shuffle for training order (r12):
    // md5(seed:key) order, first-8-hex shard, shard-local rank —
    // no global sort anywhere; the oracle replays hash, shard, and
    // window identically
    ("q_shuffle_order",
      (s: SparkSession, dir: String) =>
        graft.ops.Sampling.pseudoShuffle(
          tbl(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", "ep1", 8),
      Some("""select doc_id, lang,
                md5('ep1:' || doc_id::VARCHAR) as shuffle_key,
                ('0x' || substr(md5('ep1:' || doc_id::VARCHAR), 1, 8))::BIGINT % 8 as shard,
                row_number() over (
                  partition by ('0x' || substr(md5('ep1:' || doc_id::VARCHAR), 1, 8))::BIGINT % 8
                  order by md5('ep1:' || doc_id::VARCHAR), doc_id)::BIGINT as pos
              from documents""")),
    // mixture-plan conformance audit (r12): observed per-group corpus
    // composition vs target weights — count, share, expected, ratio;
    // a planned-but-absent group reports n = 0, an unplanned group a
    // NULL ratio
    ("q_mixture_audit",
      (s: SparkSession, dir: String) =>
        graft.ops.Quality.mixtureAudit(
          tbl(s, dir, "documents"), "lang",
          Map("en" -> 0.6, "de" -> 0.2, "fr" -> 0.15, "xx" -> 0.05)),
      Some("""with w(lang, weight) as (values
                ('en', 0.6), ('de', 0.2), ('fr', 0.15), ('xx', 0.05)),
              c as (select lang, count(*)::BIGINT as n
                    from documents group by 1),
              j as (select coalesce(c.lang, w.lang) as lang,
                      coalesce(c.n, 0) as n, coalesce(w.weight, 0) as weight
                    from c full outer join w on c.lang = w.lang),
              t as (select sum(n)::BIGINT as total from j)
              select j.lang, j.n, j.n::DOUBLE / t.total as share, j.weight,
                t.total * j.weight as expected,
                case when j.weight > 0
                  then j.n::DOUBLE / (t.total * j.weight) end as ratio
              from j cross join t""")),
    // per-source mixture reweighting: different keep-fraction per
    // group via a CASE threshold — same md5 filter, still no shuffle
    ("q_sample_weighted",
      (s: SparkSession, dir: String) =>
        graft.ops.Sampling.weightedSample(
          tbl(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "doc_id",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1), default = 0.25),
      Some(s"""select doc_id, source, n_chars from documents
               where substr(md5(doc_id::VARCHAR), 1, 8) <
                 case source
                   when 'src0' then '${graft.ops.Sampling.thresholdHex(1.0)}'
                   when 'src1' then '${graft.ops.Sampling.thresholdHex(0.5)}'
                   when 'src2' then '${graft.ops.Sampling.thresholdHex(0.1)}'
                   else '${graft.ops.Sampling.thresholdHex(0.25)}' end""")),
    // temperature-scaled domain mixture (r6): p_d ∝ n_d^0.5 — the
    // exponent-smoothed rebalancing rule; tau=0.5 stays on sqrt
    // (IEEE-exact), the weight normalizer folds over the SORTED
    // weight list (sequential sorted summation is bit-reproducible —
    // a plain SUM's accumulation order is not), and membership is the
    // usual md5 threshold — DuckDB replays the full computation
    ("q_mixture_temp",
      (s: SparkSession, dir: String) =>
        graft.ops.Sampling.temperatureMixture(
          tbl(s, dir, "documents").select("doc_id", "source"),
          "source", "doc_id", targetRows = 1000L, tau = 0.5),
      Some("""with c as (select source, count(*) as n
                         from documents group by source),
              w as (select source, n, sqrt(n::DOUBLE) as w from c),
              s as (select list_reduce(list_sort(list(w)),
                             (a, b) -> a + b) as wsum from w),
              f as (select source, n,
                      least(1.0, w / s.wsum * 1000.0 / n::DOUBLE) as f
                    from w cross join s),
              t as (select source,
                      case when f >= 1.0 then 'g'
                        else printf('%08x',
                               cast(floor(f * 4294967296.0) as bigint))
                      end as thr
                    from f)
              select d.doc_id, d.source
              from documents d join t using (source)
              where substr(md5(d.doc_id::VARCHAR), 1, 8) < t.thr""")),
    // epoch plan (r11c): the LLaMA-style data-recipe calculator —
    // epochs_s = budget·w_s / tokens_s; dyadic weights (0.5/0.25)
    // keep the normalization and targets IEEE-exact in both engines
    ("q_epoch_plan",
      (s: SparkSession, dir: String) =>
        graft.ops.Sampling.epochPlan(tbl(s, dir, "documents"),
          "source", "n_chars",
          Map("src1" -> 0.5, "src2" -> 0.25, "src17" -> 0.25),
          budgetTokens = 10000000L),
      Some("""select source, count(*) as n_docs,
                cast(sum(n_chars) as bigint) as tokens,
                cast(case source when 'src1' then 0.5
                  when 'src17' then 0.25 when 'src2' then 0.25
                  else 0.0 end as double) as weight,
                cast(case source when 'src1' then 0.5
                  when 'src17' then 0.25 when 'src2' then 0.25
                  else 0.0 end as double) * 10000000.0 as target_tokens,
                case when sum(n_chars) > 0 then
                  cast(case source when 'src1' then 0.5
                    when 'src17' then 0.25 when 'src2' then 0.25
                    else 0.0 end as double) * 10000000.0
                    / cast(sum(n_chars) as double)
                end as epochs
              from documents group by source""")),
    // deterministic fractional upsampling (r11c): materializes the
    // epoch recipe — floor(e) copies + one more below the md5
    // fractional threshold; 1-based epoch index rides along
    ("q_sample_upsample",
      (s: SparkSession, dir: String) =>
        graft.ops.Sampling.upsampleEpochs(
          tbl(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "source",
          Map("src1" -> 2.5, "src2" -> 0.4, "src3" -> 1.0)),
      Some("""with e as (select doc_id, source, n_chars,
                 case source when 'src1' then cast(2.5 as double)
                   when 'src2' then cast(0.4 as double)
                   when 'src3' then cast(1.0 as double)
                   else cast(0.0 as double) end as ep,
                 ('0x' || substring(md5(cast(doc_id as varchar)), 1, 8))::BIGINT as h
               from documents),
              n as (select doc_id, source, n_chars,
                 cast(floor(ep) as int)
                   + case when h < cast(floor((ep - floor(ep))
                       * 4294967296.0) as bigint) then 1 else 0 end as n
               from e)
              select doc_id, source, n_chars,
                cast(unnest(generate_series(1, n)) as int) as epoch
              from n where n >= 1""")),
    // quality-gate retention curve (r6): rows + weight mass a
    // `score >= t` gate keeps, per candidate threshold — ONE
    // aggregation pass computing every threshold's conditional sums
    // side by side, exploded to rows; weight sums are exact BIGINTs,
    // fractions single IEEE divisions
    ("q_retention_curve",
      (s: SparkSession, dir: String) =>
        graft.ops.Curation.retentionCurve(
          tbl(s, dir, "documents"), "n_chars", "n_chars",
          Seq(200.0, 500.0, 1000.0, 2000.0)),
      Some("""with t as (select cast(unnest([200.0, 500.0, 1000.0, 2000.0])
                           as double) as threshold),
              tot as (select count(*) as tn, sum(n_chars)::BIGINT as tw
                      from documents)
              select t.threshold,
                sum(case when d.n_chars >= t.threshold
                         then 1 else 0 end)::BIGINT as n_kept,
                sum(case when d.n_chars >= t.threshold
                         then 1 else 0 end)::DOUBLE / max(tot.tn) as keep_frac,
                sum(case when d.n_chars >= t.threshold
                         then d.n_chars else 0 end)::BIGINT as w_kept,
                sum(case when d.n_chars >= t.threshold
                         then d.n_chars else 0 end)::DOUBLE / max(tot.tw) as w_frac
              from documents d cross join t cross join tot
              group by t.threshold""")),
    ("q_sample_stratified",
      (s: SparkSession, dir: String) =>
        graft.ops.Sampling.stratifiedSample(
          tbl(s, dir, "documents").select("doc_id", "lang"),
          "lang", "doc_id", 5),
      Some("""select doc_id, lang from (
                select doc_id, lang,
                  row_number() over (partition by lang
                    order by md5(doc_id::VARCHAR), doc_id) as rn
                from documents) t where rn <= 5""")),
    // TF-IDF top terms: tf shuffles on (doc_id, term), df on term, N
    // broadcast, window top-k on doc_id. The BM25-style idf ratio is
    // log-free so the score arithmetic (and so top-k membership) is
    // IEEE-identical cross-engine; ties break on term.
    // BM25 top-k keyword retrieval (r7): three literal keyword
    // queries against the documents corpus; no-log idf ratio (same
    // IEEE-exactness rationale as tfidf), 6dp round-before-rank
    ("q_text_bm25",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        // query 4 SHARES terms with 1 and 3 — pins the r8 df fix: a
        // term in k queries must count each matching doc ONCE, not k×
        val queries = Seq(
          (1L, "hash join"), (2L, "vector scan batch"), (3L, "spark"),
          (4L, "spark join")
        ).toDF("query_id", "terms")
        graft.ops.TextAnalysis.bm25TopK(
          tbl(s, dir, "documents"), queries, 5)
      },
      Some("""with q as (select * from (values (1::BIGINT, 'hash join'),
                           (2::BIGINT, 'vector scan batch'),
                           (3::BIGINT, 'spark'),
                           (4::BIGINT, 'spark join')) v(query_id, terms)),
              qt as (select distinct query_id,
                       unnest(list_filter(string_split(lower(terms), ' '),
                              t -> t <> '')) as term from q),
              toks as (select doc_id,
                         unnest(string_split(lower(text), ' ')) as term
                       from documents),
              tf as (select doc_id, term, count(*) as tf from toks
                     where term <> '' group by 1, 2),
              dl as (select doc_id, sum(tf) as dl from tf group by 1),
              stats as (select (select count(*) from documents) as n,
                               (select avg(dl) from dl) as avgdl),
              m as (select qt.query_id, tf.doc_id, tf.term, tf.tf
                    from tf join qt on tf.term = qt.term),
              df as (select term, count(*) as df
                     from (select distinct doc_id, term from m) group by 1),
              scored as (select m.query_id, m.doc_id,
                           round(sum((stats.n::DOUBLE - df.df + 0.5) / (df.df::DOUBLE + 0.5)
                             * (m.tf * (1.2 + 1))
                             / (m.tf + 1.2 * ((1 - 0.75) + 0.75 * dl.dl / stats.avgdl))), 6) as score,
                           count(*) as n_terms
                         from m join df on m.term = df.term
                           join dl on m.doc_id = dl.doc_id
                           cross join stats
                         group by m.query_id, m.doc_id)
              select query_id, doc_id, score, n_terms, rnk::INT as rnk from (
                select *, row_number() over (partition by query_id
                    order by score desc, doc_id asc) as rnk
                from scored) where rnk <= 5""")),
    ("q_text_tfidf",
      (s: SparkSession, dir: String) =>
        graft.ops.TextAnalysis.tfidfTopTerms(tbl(s, dir, "documents"), 3),
      Some("""with toks as (select doc_id, unnest(string_split(lower(text), ' ')) as term
                           from documents),
              tf as (select doc_id, term, count(*) as tf from toks
                     where term <> '' group by 1, 2),
              df as (select term, count(*) as df from tf group by 1),
              n as (select count(*) as n from documents),
              scored as (select tf.doc_id, tf.term, tf.tf,
                           tf.tf * (n.n::DOUBLE - tf_df.df + 0.5) / (tf_df.df::DOUBLE + 0.5) as score
                         from tf join df tf_df on tf.term = tf_df.term cross join n)
              select doc_id, term, tf, score, rnk::INT as rnk from (
                select *, row_number() over (partition by doc_id
                    order by score desc, term asc) as rnk
                from scored) where rnk <= 3""")),
    // Gopher-style repetition: repeated-word fraction + top-bigram
    // share. Fractions left unrounded (int/int IEEE division; word
    // counts are often powers of two, landing rounded values exactly
    // on .xx5 boundaries).
    ("q_text_repetition",
      (s: SparkSession, dir: String) =>
        graft.ops.TextAnalysis.repetitionStats(tbl(s, dir, "documents")),
      Some("""with tok as (select doc_id,
                             list_filter(string_split(lower(text), ' '), t -> t <> '') as w
                           from documents),
              wx as (select doc_id, unnest(w) as g from tok),
              ws as (select doc_id, count(*) as n_words,
                       1.0::DOUBLE - count(distinct g)::DOUBLE / count(*) as dup_word_frac
                     from wx group by doc_id),
              bg as (select doc_id,
                       unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) as g
                     from tok where len(w) >= 2),
              bc as (select doc_id, g, count(*) as c from bg group by 1, 2),
              tb as (select doc_id, max(c)::DOUBLE / sum(c) as top_bigram_frac
                     from bc group by doc_id)
              select ws.doc_id, ws.n_words, ws.dup_word_frac, tb.top_bigram_frac
              from ws left join tb on ws.doc_id = tb.doc_id""")),
    // incremental (batch-vs-corpus) dedup: keep-first within the
    // batch, anti join on md5 against the ingested corpus — the
    // steady-state crawl-pipeline shape. The %5 split plants real
    // cross-side duplicates at sf0.1.
    ("q_dedup_incremental",
      (s: SparkSession, dir: String) => {
        val docs = tbl(s, dir, "documents")
        graft.ops.Dedup.incrementalDedup(
          docs.filter("doc_id % 5 = 0"), docs.filter("doc_id % 5 <> 0"))
      },
      Some("""with inc as (select md5(text) as h, min(doc_id) as doc_id
                           from documents
                           where doc_id % 5 = 0 and text is not null group by 1)
              select doc_id from inc
              where h not in (select md5(text) from documents
                              where doc_id % 5 <> 0 and text is not null)
              union all
              select doc_id from documents
              where doc_id % 5 = 0 and text is null""")),
    // Bloom-prefiltered incremental dedup (r5): the corpus side
    // collapses to one broadcast Bloom build (no corpus shuffle);
    // only maybe-duplicates exact-verify — result is EXACTLY the
    // plain incremental anti-join, which is the oracle (a Bloom has
    // no false negatives and positives are verified)
    ("q_dedup_bloom",
      (s: SparkSession, dir: String) => {
        val docs = tbl(s, dir, "documents")
        graft.ops.Dedup.bloomIncrementalDedup(
          docs.filter("doc_id % 7 = 0"), docs.filter("doc_id % 7 <> 0"))
      },
      Some("""with inc as (select md5(text) as h, min(doc_id) as doc_id
                           from documents
                           where doc_id % 7 = 0 and text is not null group by 1)
              select doc_id from inc
              where h not in (select md5(text) from documents
                              where doc_id % 7 <> 0 and text is not null)
              union all
              select doc_id from documents
              where doc_id % 7 = 0 and text is null""")),
    // sliding-window chunking (r5): overlapping token windows, a pure
    // per-row Generate (no shuffle) — the long-context training prep
    ("q_text_chunks",
      (s: SparkSession, dir: String) =>
        TextAnalysis.chunkDocuments(tbl(s, dir, "documents"), 64, 48)
          .selectExpr("doc_id", "cast(chunk_id as bigint) as chunk_id",
            "chunk_text", "cast(n_tokens as bigint) as n_tokens"),
      Some("""with t as (select doc_id, string_split(text, ' ') as w
                         from documents where text is not null)
              select doc_id, i as chunk_id,
                array_to_string(w[i*48+1 : i*48+64], ' ') as chunk_text,
                len(w[i*48+1 : i*48+64]) as n_tokens
              from t, unnest(range(0, ((len(w)-1)//48) + 1)) as u(i)""")),
    // per-domain document cap (r5b): URL canonicalization +
    // registered-domain extraction (pure anchored-regexp projections)
    // + ONE row_number window on the domain key — the crawl-mixture
    // control at any corpus size; the synthesized URL exercises
    // scheme/www/query/fragment/trailing-slash stripping and the
    // subdomain-collapsing domain heuristic
    ("q_domain_cap",
      (s: SparkSession, dir: String) => {
        val url = F.concat(F.lit("HTTPS://"),
          F.when(F.col("doc_id") % 2 === 0, "WWW.").otherwise("blog."),
          F.col("source"), F.lit(".COM/p/"),
          F.col("doc_id").cast("string"), F.lit("/?utm_source=x#f"))
        graft.ops.Curation.capPerDomain(
            tbl(s, dir, "documents").withColumn("url", url),
            F.col("url"), 5,
            Seq(F.col("n_chars").desc, F.col("doc_id")))
          .select(F.col("doc_id"),
            graft.ops.Curation.registeredDomain(F.col("url")).as("domain"),
            graft.ops.Curation.normalizedUrl(F.col("url")).as("url_norm"))
      },
      Some("""with u as (
                select doc_id, n_chars,
                  'HTTPS://' ||
                  (case when doc_id % 2 = 0 then 'WWW.' else 'blog.' end) ||
                  source || '.COM/p/' || doc_id || '/?utm_source=x#f' as url0
                from documents),
              norm as (
                select doc_id, n_chars,
                  regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(lower(url0),
                      '^[a-z][a-z0-9+.-]*://', ''),
                    '^www\.', ''), '[?#].*$', ''), '/+$', '') as url_norm
                from u),
              dom as (
                select doc_id, n_chars, url_norm,
                  coalesce(
                    nullif(regexp_extract(
                      regexp_extract(url_norm, '^([^/]+)', 1),
                      '([^.]+\.[^.]+)$', 1), ''),
                    regexp_extract(url_norm, '^([^/]+)', 1)) as domain
                from norm)
              select doc_id, domain, url_norm from (
                select doc_id, domain, url_norm,
                  row_number() over (partition by domain
                                     order by n_chars desc, doc_id) as rn
                from dom) t
              where rn <= 5""")),
    // quantile quality gate (r5b): keep the corpus's top fraction by
    // a score — the threshold reduces to ONE broadcast row (exact
    // interpolating percentile ≡ DuckDB quantile_cont) and rows
    // filter in place, never shuffling
    ("q_quality_filter",
      (s: SparkSession, dir: String) =>
        graft.ops.Curation.keepTopQuantile(
            tbl(s, dir, "documents"), F.col("n_chars"), 0.25)
          .select("doc_id", "n_chars"),
      Some("""select doc_id, n_chars from documents
              where n_chars >= (select quantile_cont(n_chars, 0.75)
                                from documents)""")),
    // corpus-relative vocabulary stats (r5c): OOV ratio + mean token
    // corpus-frequency against the top-500 vocabulary — the CCNet-
    // style LM quality gate with exact integer arithmetic (no ln()).
    // Tokens pre-aggregate to (doc_id, term, cnt) map-side; term
    // totals are a window over that table; the vocabulary broadcasts.
    ("q_text_vocab",
      (s: SparkSession, dir: String) =>
        graft.ops.TextAnalysis.vocabularyStats(
          tbl(s, dir, "documents"), 500),
      Some("""with toks as (select doc_id,
                     unnest(string_split(lower(text), ' ')) as term
                   from documents),
              tk as (select doc_id, term from toks where term <> ''),
              tf as (select doc_id, term, count(*) as cnt
                     from tk group by 1, 2),
              tc as (select term, sum(cnt) as tc from tf group by 1),
              vocab as (select term from tc
                        order by tc desc, term asc limit 500),
              probe as (select tf.doc_id, tf.cnt, tc.tc,
                          (v.term is not null) as iv
                        from tf join tc on tf.term = tc.term
                        left join vocab v on tf.term = v.term)
              select doc_id,
                     cast(sum(cnt) as bigint) as n_tokens,
                     cast(sum(case when iv then 0 else cnt end) as bigint)
                       as n_oov,
                     sum(case when iv then 0 else cnt end)::DOUBLE
                       / sum(cnt) as oov_ratio,
                     sum(cnt * tc)::DOUBLE / sum(cnt) as mean_tok_freq
              from probe group by doc_id""")),
    // PageRank over the customer-nation → supplier-nation trade graph
    // (r5c): 3 damped power iterations with dangling-mass
    // redistribution — contributions shuffle once per round on the
    // destination key with map-side partial sums, the dangling mass
    // is a one-row broadcast, rounds checkpoint eagerly. Ranks sum
    // exactly to 1 per round; 4dp rounding absorbs summation order.
    ("q_domain_rank",
      (s: SparkSession, dir: String) => {
        // single-scan edge fixture (r12, VERDICT r11 #9: the old
        // 4-table trade-graph derivation dominated the entry's time —
        // the entry now measures pageRank, not edge prep). Same
        // 25-node near-complete graph + the same structural
        // sparsifier: keeping ~1/7 of the PAIRS yields out-degrees
        // 3-4 and a non-uniform rank distribution, identical at every
        // SF (uniform PageRank would be a weak oracle).
        val li = tbl(s, dir, "lineitem")
        val edges = li
          .select((F.col("l_orderkey") % 25).cast("long").as("src"),
            (F.col("l_suppkey") % 25).cast("long").as("dst"))
          .where(F.col("src") =!= F.col("dst") &&
            (F.col("src") * 31 + F.col("dst")) % 7 === 0)
          .distinct()
        graft.ops.Curation.pageRank(edges, iterations = 3, damping = 0.85, checkpointEvery = 1)
          .select(F.col("node"), F.round(F.col("rank"), 4).as("rank"))
      },
      // MATERIALIZED hints are load-bearing: DuckDB 1.0 inlines a CTE
      // per reference, and edges/r_k are each referenced 2-3 times —
      // inlining re-derives the edge scan exponentially (the
      // un-hinted 4-table form filled the disk with spill at sf0.1)
      Some("""with edges as materialized (
                select distinct (l_orderkey % 25)::BIGINT as src,
                                (l_suppkey % 25)::BIGINT as dst
                from lineitem
                where (l_orderkey % 25) <> (l_suppkey % 25)
                  and ((l_orderkey % 25) * 31 + (l_suppkey % 25)) % 7 = 0),
              nodes as materialized (select src as node from edges
                        union select dst from edges),
              n as materialized (select count(*)::DOUBLE as n from nodes),
              outdeg as materialized (select src, count(*)::DOUBLE as outdeg
                         from edges group by 1),
              r0 as materialized (select node, 1.0 / n.n as rank
                     from nodes cross join n),
              r1 as materialized (
                select nd.node,
                       (1 - 0.85) / n.n
                       + 0.85 * (coalesce(i.c, 0) + dm.dm / n.n) as rank
                from nodes nd cross join n
                cross join (select coalesce(sum(r.rank), 0) as dm
                            from r0 r left join outdeg d on r.node = d.src
                            where d.src is null) dm
                left join (select e.dst as node,
                             sum(r.rank / d.outdeg) as c
                           from r0 r join outdeg d on r.node = d.src
                           join edges e on e.src = r.node
                           group by 1) i on nd.node = i.node),
              r2 as materialized (
                select nd.node,
                       (1 - 0.85) / n.n
                       + 0.85 * (coalesce(i.c, 0) + dm.dm / n.n) as rank
                from nodes nd cross join n
                cross join (select coalesce(sum(r.rank), 0) as dm
                            from r1 r left join outdeg d on r.node = d.src
                            where d.src is null) dm
                left join (select e.dst as node,
                             sum(r.rank / d.outdeg) as c
                           from r1 r join outdeg d on r.node = d.src
                           join edges e on e.src = r.node
                           group by 1) i on nd.node = i.node),
              r3 as materialized (
                select nd.node,
                       (1 - 0.85) / n.n
                       + 0.85 * (coalesce(i.c, 0) + dm.dm / n.n) as rank
                from nodes nd cross join n
                cross join (select coalesce(sum(r.rank), 0) as dm
                            from r2 r left join outdeg d on r.node = d.src
                            where d.src is null) dm
                left join (select e.dst as node,
                             sum(r.rank / d.outdeg) as c
                           from r2 r join outdeg d on r.node = d.src
                           join edges e on e.src = r.node
                           group by 1) i on nd.node = i.node)
              select node, round(rank, 4) as rank from r3""")),
    // z-order layout key (r5c): Morton interleave of two bucketed
    // keys + per-z-range stats — each bucket's bounding box is
    // compact in BOTH dimensions (the data-skipping evidence); exact
    // integer arithmetic, DuckDB replays the interleave
    ("q_zorder",
      (s: SparkSession, dir: String) => {
        val li = tbl(s, dir, "lineitem")
        val x = (F.col("l_partkey") % 256).cast("long")
        val y = (F.col("l_suppkey") % 256).cast("long")
        li.select(
            graft.ops.Export.zorderValue(Seq(x, y), 8).as("z"),
            x.as("x"), y.as("y"))
          .groupBy(F.expr("z div 4096").as("bucket"))
          .agg(F.count(F.lit(1)).as("n"),
            F.min("x").as("x_min"), F.max("x").as("x_max"),
            F.min("y").as("y_min"), F.max("y").as("y_max"))
      },
      Some("""with z0 as (
                select (l_partkey % 256)::BIGINT as x,
                       (l_suppkey % 256)::BIGINT as y
                from lineitem),
              zv as (select x, y,
                       (((x >> 0) & 1) << 0) + (((y >> 0) & 1) << 1)
                     + (((x >> 1) & 1) << 2) + (((y >> 1) & 1) << 3)
                     + (((x >> 2) & 1) << 4) + (((y >> 2) & 1) << 5)
                     + (((x >> 3) & 1) << 6) + (((y >> 3) & 1) << 7)
                     + (((x >> 4) & 1) << 8) + (((y >> 4) & 1) << 9)
                     + (((x >> 5) & 1) << 10) + (((y >> 5) & 1) << 11)
                     + (((x >> 6) & 1) << 12) + (((y >> 6) & 1) << 13)
                     + (((x >> 7) & 1) << 14) + (((y >> 7) & 1) << 15)
                       as z
                     from z0)
              select z // 4096 as bucket, count(*) as n,
                     min(x) as x_min, max(x) as x_max,
                     min(y) as y_min, max(y) as y_max
              from zv group by 1""")),
    // keyed corpus upsert (r5c): batch rows replace same-key corpus
    // rows, new keys append — one key anti-join + union, the
    // recrawl/refresh maintenance shape
    ("q_corpus_upsert",
      (s: SparkSession, dir: String) => {
        val docs = tbl(s, dir, "documents")
        val batch = docs.where(F.col("doc_id") % 7 === 0)
          .select(
            F.when(F.col("doc_id") % 14 === 0, F.col("doc_id") + 10000000L)
              .otherwise(F.col("doc_id")).as("doc_id"),
            F.col("text"), F.col("lang"),
            F.upper(F.col("source")).as("source"), F.col("n_chars"))
        graft.ops.Export.upsert(docs, batch, "doc_id")
          .select("doc_id", "lang", "source", "n_chars")
      },
      Some("""with batch as (
                select case when doc_id % 14 = 0 then doc_id + 10000000
                            else doc_id end as doc_id,
                       text, lang, upper(source) as source, n_chars
                from documents where doc_id % 7 = 0)
              select doc_id, lang, source, n_chars from (
                select * from documents
                where doc_id not in (select doc_id from batch)
                union all
                select * from batch)""")),
    // batch interval join (r5c): purchases paired with every same-user
    // view window [vt, vt+30min] containing them — bucketized
    // (key, bucket) equi-join with the exact range residual; the
    // oracle is DuckDB's native range join
    ("q_interval_join",
      (s: SparkSession, dir: String) => {
        val ev = eventMicros(s, dir)
        val p = ev.filter("event_type = 'purchase'")
          .select("event_id", "user_id", "t")
        val v = ev.filter("event_type = 'view'")
          .selectExpr("user_id", "event_id as view_id",
            "t as v_start", "t + 1800000000 as v_end")
        graft.ops.AsOf.intervalJoin(p, v, "user_id", "t",
            "v_start", "v_end", bucket = 1800000000L)
          .select("event_id", "user_id", "t", "view_id", "v_start")
      },
      Some("""with p as (select event_id, user_id, epoch_us(ts) as t
                         from events where event_type = 'purchase'),
                   v as (select user_id, event_id as view_id,
                           epoch_us(ts) as v_start,
                           epoch_us(ts) + 1800000000 as v_end
                         from events where event_type = 'view')
              select p.event_id, p.user_id, p.t, v.view_id, v.v_start
              from p join v on p.user_id = v.user_id
                and p.t between v.v_start and v.v_end""")),
    // SCD2 history build (r5c): the purchase log becomes validity
    // intervals — valid_from inclusive, valid_to exclusive (NULL while
    // current); one (key) window, no self-join
    // edit-distance fuzzy self-join (r7b): graft runs PassJoin chunk
    // blocking + thresholded levenshtein; the oracle is the NAIVE
    // O(n²) cross join in DuckDB — a mechanism-independent exactness
    // check (blocking must lose nothing)
    ("q_edit_pairs",
      (s: SparkSession, dir: String) =>
        graft.ops.Dedup.editDistancePairs(
          tbl(s, dir, "customer").filter("c_custkey % 10 = 0"),
          "c_custkey", "c_name", maxDist = 2),
      Some("""select a.c_custkey as id1, b.c_custkey as id2,
                cast(levenshtein(a.c_name, b.c_name) as int) as dist
              from customer a join customer b
                on a.c_custkey < b.c_custkey
              where a.c_custkey % 10 = 0 and b.c_custkey % 10 = 0
                and levenshtein(a.c_name, b.c_name) <= 2""")),
    // equi-width histogram (r7b): fixed-range one-pass profile; floor
    // + IEEE division are exactly rounded so bucket edges are
    // engine-identical; every bucket materializes (empty = 0) and the
    // out-of-range/null mass rides every row
    ("q_histogram",
      (s: SparkSession, dir: String) =>
        graft.ops.Quality.histogram(tbl(s, dir, "customer"), "c_acctbal",
          80, -1000.0, 10000.0),
      Some("""with x as (select cast(c_acctbal as double) as v from customer),
                   c as (select cast(least(79, floor((v - (-1000.0)) / 137.5))
                             as bigint) as bucket,
                           count(*) as n
                         from x
                         where v is not null and v >= -1000.0 and v <= 10000.0
                         group by 1),
                   o as (select
                           cast(count(*) filter (where v < -1000.0) as bigint)
                             as below,
                           cast(count(*) filter (where v > 10000.0) as bigint)
                             as above,
                           cast(count(*) filter (where v is null) as bigint)
                             as nulls
                         from x),
                   sp as (select unnest(range(0, 80)) as bucket)
              select sp.bucket,
                -1000.0 + sp.bucket * 137.5 as bucket_lo,
                -1000.0 + (sp.bucket + 1) * 137.5 as bucket_hi,
                coalesce(c.n, 0) as n, o.below, o.above, o.nulls
              from sp left join c using (bucket) cross join o""")),
    // snapshot diff (r7b): added/removed/changed/unchanged per key
    // between two corpus snapshots — graft collapses each side to a
    // fixed-width (key, n, hash-sum) row BEFORE one full-outer join;
    // the oracle compares the actual values null-safely in DuckDB,
    // a mechanism-independent check of the statuses
    ("q_snapshot_diff",
      (s: SparkSession, dir: String) => {
        val d = tbl(s, dir, "documents")
        val o = d.filter("doc_id % 7 != 0").select("doc_id", "text", "lang")
        val n = d.filter("doc_id % 5 != 0").selectExpr("doc_id",
          "case when doc_id % 3 = 0 then concat(text, '!') else text end" +
            " as text", "lang")
        graft.ops.Curation.snapshotDiff(o, n, Seq("doc_id"))
      },
      Some("""with o as (select doc_id, text, lang from documents
                         where doc_id % 7 <> 0),
                   n as (select doc_id,
                           case when doc_id % 3 = 0 then text || '!'
                                else text end as text, lang
                         from documents where doc_id % 5 <> 0)
              select coalesce(o.doc_id, n.doc_id) as doc_id,
                case when o.doc_id is null then 'added'
                     when n.doc_id is null then 'removed'
                     when o.text is not distinct from n.text
                      and o.lang is not distinct from n.lang
                       then 'unchanged'
                     else 'changed' end as status
              from o full outer join n on o.doc_id = n.doc_id""")),
    ("q_scd2",
      (s: SparkSession, dir: String) => {
        val ev = eventMicros(s, dir)
        val log = ev.filter("event_type = 'purchase'")
          .select("user_id", "t", "value")
        graft.ops.Export.scd2(log, "user_id", "t")
          .select("user_id", "t", "value", "valid_from", "valid_to",
            "is_current")
      },
      Some("""with p as (select user_id, epoch_us(ts) as t, value
                         from events where event_type = 'purchase')
              select user_id, t, value, t as valid_from,
                lead(t) over (partition by user_id order by t) as valid_to,
                (lead(t) over (partition by user_id order by t) is null)
                  as is_current
              from p""")),
    // corpus-pair overlap from bottom-k shingle sketches (r5c): the
    // KMV Jaccard estimate between the even- and odd-doc_id halves —
    // fixed-size sketches, no corpus-sized join; md5 order is
    // engine-identical so the oracle replays the EXACT estimate
    ("q_corpus_overlap",
      (s: SparkSession, dir: String) => {
        val docs = tbl(s, dir, "documents")
        graft.ops.Dedup.corpusOverlap(
          docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"), 256)
      },
      Some("""with tok as (select doc_id,
                             string_split(lower(text), ' ') as w
                           from documents),
              sh as (select doc_id, list_distinct(list_transform(
                       range(1, greatest(len(w) - 2, 1) + 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) as shingles
                     from tok),
              ea as (select md5(unnest(shingles)) as h from sh
                     where doc_id % 2 = 0),
              eb as (select md5(unnest(shingles)) as h from sh
                     where doc_id % 2 = 1),
              sa as (select h from (select distinct h from ea)
                     order by h limit 256),
              sb as (select h from (select distinct h from eb)
                     order by h limit 256),
              mem as (select h, max(in_a) as in_a, max(in_b) as in_b
                      from (select h, 1 as in_a, 0 as in_b from sa
                            union all
                            select h, 0 as in_a, 1 as in_b from sb)
                      group by h),
              topk as (select * from mem order by h limit 256)
              select count(*) as k_union,
                sum(case when in_a = 1 and in_b = 1
                    then 1 else 0 end)::BIGINT as n_both,
                round(sum(case when in_a = 1 and in_b = 1
                          then 1 else 0 end)::DOUBLE / count(*), 4)
                  as jaccard_est
              from topk""")),
    // deterministic N-way split assignment (r5): cumulative md5
    // thresholds — growing a fraction only moves rows across the
    // adjacent boundary
    ("q_sample_split",
      (s: SparkSession, dir: String) =>
        graft.ops.Sampling.splitAssign(tbl(s, dir, "documents"), "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy("split")
          .agg(F.count(F.lit(1)).as("n"), F.min("doc_id").as("first_id")),
      Some(s"""select case
                 when substring(md5(cast(doc_id as varchar)), 1, 8)
                   < '${graft.ops.Sampling.thresholdHex(0.8)}' then 'train'
                 when substring(md5(cast(doc_id as varchar)), 1, 8)
                   < '${graft.ops.Sampling.thresholdHex(0.9)}' then 'val'
                 else 'test' end as split,
               count(*) as n, min(doc_id) as first_id
              from documents group by 1""")),
    // leakage-safe split (r11c): assignment keys on the NEAR-DUP
    // GROUP representative (singletons on their own id) so duplicate
    // groups never straddle a split boundary; oracle = the recursive
    // CC replay + the md5-threshold case over the group key
    ("q_sample_leakage_split",
      (s: SparkSession, dir: String) =>
        graft.ops.Sampling.leakageSafeSplit(tbl(s, dir, "documents"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), 0.5)
          .select("doc_id", "group_id", "split"),
      Some(s"""${duckShingleCtes.replaceFirst("with ", "with recursive ")},
               cand as (select a.doc_id as id_a, b.doc_id as id_b
                        from mh a join mh b on a.doc_id < b.doc_id and ($duckOrs)),
               vp as (select id_a, id_b from (
                        select c.id_a, c.id_b,
                          len(list_intersect(sa.shingles, sb.shingles))
                            / len(list_distinct(list_concat(sa.shingles, sb.shingles))) as jacc
                        from cand c
                        join sh sa on sa.doc_id = c.id_a
                        join sh sb on sb.doc_id = c.id_b) t
                      where jacc >= 0.5),
               edges as (select id_a as src, id_b as dst from vp
                         union select id_b, id_a from vp),
               reach(id, r) as (
                 select distinct src, src from edges
                 union
                 select h.id, e.dst from reach h join edges e on e.src = h.r),
               grp as (select id as doc_id, min(r) as group_id
                       from reach group by id),
               keyed as (select d.doc_id,
                           coalesce(g.group_id, d.doc_id) as group_id
                         from documents d left join grp g on d.doc_id = g.doc_id)
               select doc_id, group_id, case
                 when substring(md5(cast(group_id as varchar)), 1, 8)
                   < '${graft.ops.Sampling.thresholdHex(0.8)}' then 'train'
                 when substring(md5(cast(group_id as varchar)), 1, 8)
                   < '${graft.ops.Sampling.thresholdHex(0.9)}' then 'val'
                 else 'test' end as split
               from keyed""")),
    // train/eval contamination: per eval doc, the fraction of its
    // shingles found anywhere in the training split — distinct train
    // shingle set join + doc count, narrow key shuffles only.
    ("q_contamination",
      (s: SparkSession, dir: String) => {
        val docs = tbl(s, dir, "documents")
        val evalSrc = "('src17', 'src18', 'src19')"
        graft.ops.Dedup.contaminationScores(
          docs.filter(s"source not in $evalSrc"),
          docs.filter(s"source in $evalSrc"))
      },
      Some("""with tok as (select doc_id, source,
                             string_split(lower(text), ' ') as w from documents),
              sh as (select doc_id, source, list_distinct(list_transform(
                       range(1, greatest(len(w) - 2, 1) + 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) as shingles
                     from tok),
              train as (select distinct unnest(shingles) as s from sh
                        where source not in ('src17', 'src18', 'src19')),
              ev as (select doc_id, unnest(shingles) as s from sh
                     where source in ('src17', 'src18', 'src19')),
              hits as (select e.doc_id, count(*) as matched
                       from ev e join train t on e.s = t.s group by 1),
              tot as (select doc_id, len(shingles) as n_shingles from sh
                      where source in ('src17', 'src18', 'src19'))
              select tot.doc_id, tot.n_shingles,
                coalesce(h.matched, 0) as matched,
                coalesce(h.matched, 0)::DOUBLE / tot.n_shingles as contamination
              from tot left join hits h on tot.doc_id = h.doc_id""")),
    // fuzzy decontamination (r11c): NEAR-COPIES of eval docs in the
    // train split — MinHash-banded cross-corpus candidates, exact
    // Jaccard verify; complementary to the any-shared-n-gram rule
    ("q_decontaminate_fuzzy",
      (s: SparkSession, dir: String) => {
        val docs = tbl(s, dir, "documents")
        val evalSrc = "('src17', 'src18', 'src19')"
        graft.ops.Dedup.fuzzyDecontaminationPairs(
          docs.filter(s"source not in $evalSrc"),
          docs.filter(s"source in $evalSrc"), 0.5)
      },
      Some(s"""$duckShingleCtes,
               cand as (select a.doc_id as id_a, b.doc_id as id_b
                        from mh a join mh b on ($duckOrs)
                        where a.doc_id in (select doc_id from documents
                          where source not in ('src17', 'src18', 'src19'))
                          and b.doc_id in (select doc_id from documents
                          where source in ('src17', 'src18', 'src19')))
               select id_a, id_b, round(jacc, 4) as jacc from (
                 select c.id_a, c.id_b,
                   len(list_intersect(sa.shingles, sb.shingles))
                     / len(list_distinct(list_concat(sa.shingles, sb.shingles))) as jacc
                 from cand c
                 join sh sa on sa.doc_id = c.id_a
                 join sh sb on sb.doc_id = c.id_b) t
               where jacc >= 0.5""")),
    // decontamination (r11c): the REVERSE direction — each TRAIN
    // doc's shingle overlap with the eval set plus the keep verdict
    // at max_overlap = 0 (any shared shingle disqualifies); the
    // distinct eval shingle set is the small/broadcast side
    ("q_decontaminate",
      (s: SparkSession, dir: String) => {
        val docs = tbl(s, dir, "documents")
        val evalSrc = "('src17', 'src18', 'src19')"
        graft.ops.Dedup.decontaminationScores(
          docs.filter(s"source not in $evalSrc"),
          docs.filter(s"source in $evalSrc"), 0.0)
      },
      Some("""with tok as (select doc_id, source,
                             string_split(lower(text), ' ') as w from documents),
              sh as (select doc_id, source, list_distinct(list_transform(
                       range(1, greatest(len(w) - 2, 1) + 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) as shingles
                     from tok),
              ev as (select distinct unnest(shingles) as s from sh
                     where source in ('src17', 'src18', 'src19')),
              tr as (select doc_id, unnest(shingles) as s from sh
                     where source not in ('src17', 'src18', 'src19')),
              hits as (select t.doc_id, count(*) as matched
                       from tr t join ev e on t.s = e.s group by 1),
              tot as (select doc_id, len(shingles) as n_shingles from sh
                      where source not in ('src17', 'src18', 'src19'))
              select tot.doc_id, tot.n_shingles,
                coalesce(h.matched, 0) as matched,
                coalesce(h.matched, 0)::DOUBLE / tot.n_shingles as overlap,
                coalesce(coalesce(h.matched, 0)::DOUBLE / tot.n_shingles
                  <= 0.0, true) as keep
              from tot left join hits h on tot.doc_id = h.doc_id""")),
    // per-label embedding centroids in long form: flatMap explode +
    // ONE (label, pos) shuffle with partial sums — shuffled state is
    // labels×dim regardless of corpus size. float32 components are
    // exact in double, so the mean is order-independent.
    ("q_embed_centroids",
      (s: SparkSession, dir: String) =>
        graft.ops.Similarity.labelCentroids(tbl(s, dir, "embeddings")),
      Some("""select label, pos::INT as pos, count(*) as n,
                round(avg(v::DOUBLE), 6) as centroid
              from (select label, unnest(range(len(embedding))) as pos,
                      unnest(embedding) as v from embeddings)
              group by label, pos""")),
    // deterministic export sharding: md5-hash mod N is reproducible
    // across engines/partitionings — per-shard balance stats
    ("q_shard_stats",
      (s: SparkSession, dir: String) =>
        graft.ops.Export.shardStats(
          tbl(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", 16, "n_chars"),
      Some("""select ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16 as shard,
                count(*) as n_docs, sum(n_chars)::BIGINT as n_bytes
              from documents group by 1""")),
    // token-budget sequence packing: hash-dealt shards, hash-ordered
    // cumulative token cut — one window per shard, never a global sort
    ("q_pack_sequences",
      (s: SparkSession, dir: String) => {
        val docs = tbl(s, dir, "documents").filter("text is not null")
          .selectExpr("doc_id",
            "cast(size(filter(split(lower(text), ' '), t -> t <> '')) as bigint) as n_tokens")
        graft.ops.Export.packSequences(docs, "doc_id", "n_tokens", 2048L, 8)
          .select("doc_id", "shard", "n_tokens", "seq", "seq_pos")
      },
      Some("""with t as (select doc_id,
                  len(list_filter(string_split(lower(text), ' '), x -> x <> ''))::BIGINT as n_tokens,
                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 as shard,
                  md5(doc_id::VARCHAR) as hk
                from documents where text is not null),
              c as (select doc_id, shard, n_tokens,
                      sum(n_tokens) over (partition by shard order by hk, doc_id
                                          rows unbounded preceding)::BIGINT as cum,
                      hk
                    from t)
              select doc_id, shard, n_tokens,
                (cum - n_tokens) // 2048 as seq,
                row_number() over (partition by shard, (cum - n_tokens) // 2048
                                   order by hk, doc_id)::INT as seq_pos
              from c""")),
    // materialized training sequences: documents concatenated in
    // seq_pos order per (shard, seq) — DuckDB's ordered string_agg
    // replays the exact concatenation
    ("q_pack_concat",
      (s: SparkSession, dir: String) => {
        val docs = tbl(s, dir, "documents").filter("text is not null")
          .selectExpr("doc_id", "text",
            "cast(size(filter(split(lower(text), ' '), t -> t <> '')) as bigint) as n_tokens")
        val packed = graft.ops.Export.packSequences(
          docs, "doc_id", "n_tokens", 2048L, 8)
        graft.ops.Export.concatSequences(packed, "text", "n_tokens")
      },
      Some("""with t as (select doc_id, text,
                  len(list_filter(string_split(lower(text), ' '), x -> x <> ''))::BIGINT as n_tokens,
                  ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 as shard,
                  md5(doc_id::VARCHAR) as hk
                from documents where text is not null),
              c as (select doc_id, text, shard, n_tokens, hk,
                      sum(n_tokens) over (partition by shard order by hk, doc_id
                                          rows unbounded preceding)::BIGINT as cum
                    from t),
              p as (select doc_id, text, shard, n_tokens, hk,
                      (cum - n_tokens) // 2048 as seq,
                      row_number() over (partition by shard, (cum - n_tokens) // 2048
                                         order by hk, doc_id) as seq_pos
                    from c)
              select shard, seq, count(*) as n_docs,
                sum(n_tokens)::BIGINT as seq_tokens,
                string_agg(text, ' ' order by seq_pos) as text
              from p group by shard, seq""")),
    // int8 max-abs quantization: scale + checksum aggregates pin every
    // quantized value (floor(x+0.5) — round() diverges at .5 between
    // engines; identical IEEE doubles floor identically)
    // matryoshka truncate + renormalize (r5b): zero-shuffle per-row
    // projection; oracle checks per-vector norm and renormalized
    // coordinate sum at 4dp (the established list_sum idiom)
    ("q_embed_mrl",
      (s: SparkSession, dir: String) =>
        graft.ops.Similarity.truncateNormalize(tbl(s, dir, "embeddings"), 4)
          .selectExpr("vec_id", "cast(size(unit) as int) as dim",
            "round(norm, 4) as norm",
            "round(aggregate(unit, 0D, (acc, x) -> acc + x), 4) as u_sum"),
      Some("""with t0 as (select vec_id,
                  list_transform(embedding[1:4], v -> v::DOUBLE) as t
                from embeddings),
              n0 as (select vec_id, t,
                  sqrt(list_sum(list_transform(t, x -> x * x))) as nrm
                from t0)
              select vec_id, len(t)::INT as dim, round(nrm, 4) as norm,
                round(case when nrm = 0 then 0
                      else list_sum(list_transform(t, x -> x / nrm)) end,
                  4) as u_sum
              from n0""")),
    // two-stage retrieval (r5c): coarse top-12 on the 4-dim MRL index,
    // exact full-dim re-rank of the survivors to top-3 — both stages
    // deterministic (engine-identical arithmetic, id tie-breaks), so
    // the oracle replays the exact pipeline, not a recall bound
    ("q_two_stage",
      (s: SparkSession, dir: String) =>
        graft.ops.Similarity.twoStageTopK(tbl(s, dir, "embeddings"),
          "vec_id < 10", d = 4, k = 3, mult = 4),
      Some("""with t0 as (select vec_id,
                  list_transform(embedding[1:4], v -> v::DOUBLE) as t
                from embeddings),
              n0 as (select vec_id, t,
                  sqrt(list_sum(list_transform(t, x -> x * x))) as nrm
                from t0),
              u as (select vec_id,
                  case when nrm = 0 then list_transform(t, x -> x * 0)
                       else list_transform(t, x -> x / nrm) end as unit
                from n0),
              c0 as (select q.vec_id as query_id, c.vec_id as neighbor_id,
                       round(list_sum(list_transform(q.unit,
                         (x, i) -> x * c.unit[i])), 6) as coarse
                     from u q join u c
                       on q.vec_id < 10 and c.vec_id <> q.vec_id),
              cand as (select query_id, neighbor_id,
                         row_number() over (partition by query_id
                           order by coarse desc, neighbor_id) as crnk
                       from c0 qualify crnk <= 12),
              e as (select vec_id, embedding,
                      list_sum(list_transform(embedding,
                        (x, i) -> x::DOUBLE * x::DOUBLE)) as norm2
                    from embeddings),
              scored as (select cand.query_id, cand.neighbor_id,
                           round(list_sum(list_transform(q.embedding,
                               (x, i) -> x::DOUBLE * (c.embedding[i])::DOUBLE))
                             / (sqrt(q.norm2) * sqrt(c.norm2)), 6) as sim
                         from cand
                         join e q on cand.query_id = q.vec_id
                         join e c on cand.neighbor_id = c.vec_id)
              select query_id, neighbor_id, sim,
                row_number() over (partition by query_id
                  order by sim desc, neighbor_id) as rnk
              from scored qualify rnk <= 3""")),
    ("q_embed_quantize",
      (s: SparkSession, dir: String) =>
        graft.ops.Similarity.quantizeEmbeddings(tbl(s, dir, "embeddings")),
      Some("""with q as (select vec_id, embedding,
                  list_max(list_transform(embedding, v -> abs(v::DOUBLE))) as scale
                from embeddings),
              z as (select vec_id, scale,
                      case when scale = 0 then list_transform(embedding, v -> 0::BIGINT)
                        else list_transform(embedding,
                               v -> floor(v::DOUBLE * 127 / scale + 0.5)::BIGINT)
                      end as ql
                    from q)
              select vec_id, scale, len(ql)::INT as dim,
                list_sum(ql)::BIGINT as q_sum,
                list_sum(list_transform(ql, x -> abs(x)))::BIGINT as q_l1
              from z""")),
    // product quantization (r5c): codes + reconstruction error on the
    // int8 lattice with the deterministic seed codebook — broadcast
    // codebook, pure per-row codegen projection, EXACT integer
    // arithmetic (DuckDB replays codes bit-for-bit; ties break to the
    // lowest code in both engines)
    // codes serialized to CSV on BOTH sides (r6): the driver's pandas
    // comparator cannot hash array columns; the raw array form stays
    // pinned by OpsSpec's seed-identity test
    ("q_pq_encode",
      (s: SparkSession, dir: String) =>
        graft.ops.Similarity.pqEncode(tbl(s, dir, "embeddings"), 4, 16)
          .withColumn("codes",
            F.array_join(F.col("codes").cast("array<string>"), ",")),
      Some("""with q0 as (select vec_id, embedding,
                  list_max(list_transform(embedding, v -> abs(v::DOUBLE))) as scale
                from embeddings),
              qz as (select vec_id,
                       case when scale = 0
                         then list_transform(embedding, v -> 0::BIGINT)
                         else list_transform(embedding,
                           v -> floor(v::DOUBLE * 127 / scale + 0.5)::BIGINT)
                       end as ql
                     from q0),
              seeds as (select ql,
                          (row_number() over (order by vec_id) - 1)::INT as code
                        from qz order by vec_id limit 16),
              blk as (select unnest(range(0, 4)) as block),
              cb as materialized (
                select blk.block, s.code,
                       s.ql[blk.block*16+1 : blk.block*16+16] as centroid
                from seeds s cross join blk),
              dist as (select v.vec_id, c.block, c.code,
                         list_sum(list_transform(range(1, 17), i ->
                           (v.ql[c.block*16+i] - c.centroid[i])
                           * (v.ql[c.block*16+i] - c.centroid[i]))) as d
                       from qz v cross join cb c),
              best as (select vec_id, block, code, d,
                         row_number() over (partition by vec_id, block
                                            order by d, code) as rn
                       from dist)
              select vec_id,
                     array_to_string(array_agg(code order by block), ',') as codes,
                     sum(d)::BIGINT as pq_err
              from best where rn = 1 group by vec_id""")),
    // PQ ADC top-k search (r9): the search half of row 95 — the
    // integer distance tables + code-scan candidates replay exactly
    // in DuckDB (same lattice/codebook CTEs as q_pq_encode), then the
    // same exact-cosine rerank as the other ANN oracles
    ("q_ann_pq",
      (s: SparkSession, dir: String) =>
        Similarity.pqTopK(tbl(s, dir, "embeddings"), "vec_id < 8",
          k = 5, m = 4, kc = 16, mult = 4),
      Some(s"""with q0 as (select vec_id, embedding,
                  list_max(list_transform(embedding, v -> abs(v::DOUBLE))) as scale
                from embeddings),
              qz as (select vec_id,
                       case when scale = 0
                         then list_transform(embedding, v -> 0::BIGINT)
                         else list_transform(embedding,
                           v -> floor(v::DOUBLE * 127 / scale + 0.5)::BIGINT)
                       end as ql
                     from q0),
              seeds as (select ql,
                          (row_number() over (order by vec_id) - 1)::INT as code
                        from qz order by vec_id limit 16),
              blk as (select unnest(range(0, 4)) as block),
              cb as materialized (
                select blk.block, s.code,
                       s.ql[blk.block*16+1 : blk.block*16+16] as centroid
                from seeds s cross join blk),
              dist as (select v.vec_id, c.block, c.code,
                         list_sum(list_transform(range(1, 17), i ->
                           (v.ql[c.block*16+i] - c.centroid[i])
                           * (v.ql[c.block*16+i] - c.centroid[i]))) as d
                       from qz v cross join cb c),
              best as (select vec_id, block, code, d,
                         row_number() over (partition by vec_id, block
                                            order by d, code) as rn
                       from dist),
              qtab as (select v.vec_id as query_id, c.block, c.code,
                         list_sum(list_transform(range(1, 17), i ->
                           (v.ql[c.block*16+i] - c.centroid[i])
                           * (v.ql[c.block*16+i] - c.centroid[i]))) as d
                       from qz v cross join cb c where v.vec_id < 8),
              adc as (select qt.query_id, bc.vec_id as neighbor_id,
                        sum(qt.d) as adc
                      from best bc
                      join qtab qt on qt.block = bc.block
                                  and qt.code = bc.code
                      where bc.rn = 1 and bc.vec_id <> qt.query_id
                      group by qt.query_id, bc.vec_id),
              cands as (select query_id, neighbor_id,
                          row_number() over (partition by query_id
                                             order by adc, neighbor_id) as crnk
                        from adc),
              e as (select vec_id, embedding,
                      list_sum(list_transform(embedding,
                        (x, i) -> x::DOUBLE * x::DOUBLE)) as norm2
                    from embeddings),
              rer as (select c.query_id, c.neighbor_id,
                        round(${duckPairCos("eq", "en")}, 6) as sim
                      from cands c
                      join e eq on eq.vec_id = c.query_id
                      join e en on en.vec_id = c.neighbor_id
                      where c.crnk <= 20)
              select query_id, neighbor_id, sim,
                row_number() over (partition by query_id
                                   order by sim desc, neighbor_id) as rnk
              from rer qualify rnk <= 5""")),
    // IVF-PQ composed ANN (r10): coarse cells bound WHICH codes the
    // ADC scan touches, PQ bounds WHAT it reads per row — the
    // production 100 TB tier (VERDICT r9 #1). Deterministic label-cell
    // form (the q_ann_ivf adjudication pattern): each query probes its
    // own cell; same lattice/codebook CTEs as q_ann_pq with the
    // same-label restriction on the candidate pairs.
    ("q_ann_ivfpq",
      (s: SparkSession, dir: String) =>
        Similarity.ivfPqTopK(tbl(s, dir, "embeddings"), "vec_id < 8",
          k = 5, m = 4, kc = 16, mult = 4, nprobe = 1),
      Some(s"""with q0 as (select vec_id, embedding,
                  list_max(list_transform(embedding, v -> abs(v::DOUBLE))) as scale
                from embeddings),
              qz as (select vec_id,
                       case when scale = 0
                         then list_transform(embedding, v -> 0::BIGINT)
                         else list_transform(embedding,
                           v -> floor(v::DOUBLE * 127 / scale + 0.5)::BIGINT)
                       end as ql
                     from q0),
              seeds as (select ql,
                          (row_number() over (order by vec_id) - 1)::INT as code
                        from qz order by vec_id limit 16),
              blk as (select unnest(range(0, 4)) as block),
              cb as materialized (
                select blk.block, s.code,
                       s.ql[blk.block*16+1 : blk.block*16+16] as centroid
                from seeds s cross join blk),
              dist as (select v.vec_id, c.block, c.code,
                         list_sum(list_transform(range(1, 17), i ->
                           (v.ql[c.block*16+i] - c.centroid[i])
                           * (v.ql[c.block*16+i] - c.centroid[i]))) as d
                       from qz v cross join cb c),
              best as (select vec_id, block, code, d,
                         row_number() over (partition by vec_id, block
                                            order by d, code) as rn
                       from dist),
              qtab as (select v.vec_id as query_id, c.block, c.code,
                         list_sum(list_transform(range(1, 17), i ->
                           (v.ql[c.block*16+i] - c.centroid[i])
                           * (v.ql[c.block*16+i] - c.centroid[i]))) as d
                       from qz v cross join cb c where v.vec_id < 8),
              lab as (select vec_id, label from embeddings),
              adc as (select qt.query_id, bc.vec_id as neighbor_id,
                        sum(qt.d) as adc
                      from best bc
                      join qtab qt on qt.block = bc.block
                                  and qt.code = bc.code
                      join lab nl on nl.vec_id = bc.vec_id
                      join lab ql2 on ql2.vec_id = qt.query_id
                                  and ql2.label = nl.label
                      where bc.rn = 1 and bc.vec_id <> qt.query_id
                      group by qt.query_id, bc.vec_id),
              cands as (select query_id, neighbor_id,
                          row_number() over (partition by query_id
                                             order by adc, neighbor_id) as crnk
                        from adc),
              e as (select vec_id, embedding,
                      list_sum(list_transform(embedding,
                        (x, i) -> x::DOUBLE * x::DOUBLE)) as norm2
                    from embeddings),
              rer as (select c.query_id, c.neighbor_id,
                        round(${duckPairCos("eq", "en")}, 6) as sim
                      from cands c
                      join e eq on eq.vec_id = c.query_id
                      join e en on en.vec_id = c.neighbor_id
                      where c.crnk <= 20)
              select query_id, neighbor_id, sim,
                row_number() over (partition by query_id
                                   order by sim desc, neighbor_id) as rnk
              from rer qualify rnk <= 5""")),
    // corpus-level bigram heavy hitters (boilerplate discovery):
    // map-side partials collapse hot grams before the shuffle, global
    // top-k via per-partition heaps; ties break on the gram text
    ("q_ngram_top",
      (s: SparkSession, dir: String) =>
        graft.ops.TextAnalysis.topNgrams(tbl(s, dir, "documents"), 2, 20),
      Some("""with tok as (select doc_id,
                  list_filter(string_split(lower(text), ' '), t -> t <> '') as w
                from documents),
              gx as (select doc_id,
                       unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) as g
                     from tok where len(w) >= 2)
              select g, count(*) as n_occ, count(distinct doc_id) as n_docs
              from gx group by g
              order by n_occ desc, g asc limit 20""")),
    // cross-document duplicate spans (r5b): exact-substring dedup
    // stats — one Generate + one hash window + one per-doc agg; a
    // small n keeps planted duplicates plentiful at sf0.01
    ("q_dedup_spans_cross",
      (s: SparkSession, dir: String) =>
        Dedup.duplicateSpanStats(tbl(s, dir, "documents"), 8),
      Some("""with tok as (select doc_id,
                  list_filter(string_split(lower(text), ' '), t -> t <> '') as w
                from documents),
              sp as (select doc_id, i as pos,
                       md5(array_to_string(w[i : i+7], ' ')) as h
                     from tok, unnest(range(1, len(w) - 6)) as u(i)
                     where len(w) >= 8),
              rk as (select doc_id,
                       row_number() over (partition by h
                                          order by doc_id, pos) as rn
                     from sp)
              select doc_id, count(*) as n_spans,
                sum(case when rn > 1 then 1 else 0 end)::bigint as n_dup
              from rk group by doc_id""")),
    // cross-document exact-substring REMOVAL (r10): the rewrite
    // companion — later occurrences of each 8-token span drop their
    // covered tokens; the oracle replays tokenization, hashing,
    // first-occurrence ranking, and the positional anti-join
    ("q_dedup_remove_spans",
      (s: SparkSession, dir: String) =>
        Dedup.removeDuplicateSpans(tbl(s, dir, "documents"), 8),
      Some("""with tok as (select doc_id, text,
                  list_filter(string_split(text, ' '), t -> t <> '') as w,
                  list_filter(string_split(lower(text), ' '), t -> t <> '') as lw
                from documents),
              sp as (select doc_id, i as pos,
                       md5(array_to_string(lw[i : i+7], ' ')) as h
                     from tok, unnest(range(1, len(lw) - 6)) as u(i)
                     where len(lw) >= 8),
              rk as (select doc_id, pos,
                       row_number() over (partition by h
                                          order by doc_id, pos) as rn
                     from sp),
              cover as (select distinct doc_id, pos + j as i
                        from rk, unnest(range(0, 8)) as v(j)
                        where rn > 1),
              tokpos as (select doc_id, i, w[i] as tok
                         from tok, unnest(range(1, len(w) + 1)) as u(i)),
              kept as (select t.doc_id, t.i, t.tok
                       from tokpos t anti join cover c
                         on t.doc_id = c.doc_id and t.i = c.i),
              agg as (select doc_id,
                        array_to_string(list(tok order by i), ' ') as txt
                      from kept group by doc_id),
              cov as (select doc_id, count(*) as n_cov
                      from cover group by doc_id)
              select d.doc_id,
                case when d.text is null then null
                     when c.doc_id is null then d.text
                     else coalesce(a.txt, '') end as text,
                cast(coalesce(c.n_cov, 0) as bigint) as n_removed
              from documents d
              left join agg a on d.doc_id = a.doc_id
              left join cov c on d.doc_id = c.doc_id""")),
    // paragraph-level dedup (r11b): the CCNet/RefinedWeb line-dedup
    // pass — drop every paragraph whose normalized text occurred
    // earlier in the corpus. The synthetic docs have no newlines, so
    // the query splits on the token ' a ' (frequent in the tiny
    // vocabulary → real cross-doc paragraph collisions); minChars=2
    // exercises the short-paragraph skip. The oracle replays split,
    // normalize, first-occurrence ranking, and positional rewrite.
    ("q_dedup_paragraphs",
      (s: SparkSession, dir: String) =>
        Dedup.dedupParagraphs(tbl(s, dir, "documents"), " a ", 2),
      Some("""with sp as (select doc_id, text,
                  string_split(text, ' a ') as p from documents),
              paras as (select doc_id, i as idx, p[i] as para,
                          lower(trim(p[i])) as nrm
                        from sp, unnest(range(1, len(p) + 1)) as u(i)),
              rk as (select doc_id, idx,
                       row_number() over (partition by nrm
                                          order by doc_id, idx) as rn
                     from paras where length(nrm) >= 2),
              drops as (select doc_id, idx from rk where rn > 1),
              kept as (select p.doc_id, p.idx, p.para from paras p
                       anti join drops d
                         on p.doc_id = d.doc_id and p.idx = d.idx),
              agg as (select doc_id,
                        array_to_string(list(para order by idx), ' a ') as txt
                      from kept group by doc_id),
              nd as (select doc_id, count(*) as n from drops group by doc_id)
              select d.doc_id,
                case when d.text is null then null
                     when nd.doc_id is null then d.text
                     else coalesce(a.txt, '') end as text,
                cast(coalesce(nd.n, 0) as bigint) as n_removed
              from documents d
              left join agg a on d.doc_id = a.doc_id
              left join nd on d.doc_id = nd.doc_id""")),
    // DSIR importance-weight integer anchor (r11b): the hashed
    // unigram+bigram count layer feeding dsirWeights' ln-fold —
    // target model = the doc_id%3=0 third, source = the rest, so
    // both OOV paths carry real weight. Buckets hash via the
    // cross-engine md5 prefix (conv(hex,16,10) ≡ ('0x'||hex)::bigint;
    // collisions are deterministic and identical in both engines).
    // The ln score itself is spec-pinned (libm wall, the LM
    // precedent).
    // r12: the self-split form (target/source = complementary filters
    // of the scored corpus) lowers through dsirPartsSelf — ONE text
    // pass instead of three, row-identical to the generic
    // dsirParts(docs, docs.filter(p), docs.filter(not p)) lowering
    // (equivalence spec-pinned in OpsSpec; oracle unchanged)
    ("q_dsir_parts",
      (s: SparkSession, dir: String) =>
        graft.ops.Sampling.dsirPartsSelf(
          tbl(s, dir, "documents"), "doc_id % 3 = 0", 512),
      Some("""with tok as (select doc_id,
                  list_filter(string_split(lower(text), ' '), t -> t <> '') as w
                from documents),
              g1 as (select doc_id, unnest(w) as g from tok),
              g2 as (select doc_id,
                       unnest(list_transform(range(1, len(w)),
                         i -> w[i] || ' ' || w[i+1])) as g
                     from tok where len(w) >= 2),
              gx as (select * from g1 union all select * from g2),
              fb as (select doc_id,
                       ('0x' || substring(md5(g), 1, 8))::bigint % 512 as b
                     from gx),
              docf as (select doc_id, b, count(*) as n
                       from fb group by doc_id, b),
              tb as (select b, count(*) as ct from fb
                     where doc_id % 3 = 0 group by b),
              sb as (select b, count(*) as cs from fb
                     where doc_id % 3 <> 0 group by b),
              tot as (select
                        (select coalesce(sum(ct), 0) from tb) as nt,
                        (select coalesce(sum(cs), 0) from sb) as ns),
              parts as (select doc_id,
                          sum(n) as n_feats,
                          sum(n * coalesce(ct, 0)) as sum_t,
                          sum(n * coalesce(cs, 0)) as sum_s,
                          sum(case when ct is null then n else 0 end) as n_oov_t,
                          sum(case when cs is null then n else 0 end) as n_oov_s
                        from docf
                        left join tb using (b) left join sb using (b)
                        group by doc_id)
              select d.doc_id,
                cast(coalesce(p.n_feats, 0) as bigint) as n_feats,
                cast(coalesce(p.sum_t, 0) as bigint) as sum_t,
                cast(coalesce(p.sum_s, 0) as bigint) as sum_s,
                cast(coalesce(p.n_oov_t, 0) as bigint) as n_oov_t,
                cast(coalesce(p.n_oov_s, 0) as bigint) as n_oov_s,
                cast(tot.nt as bigint) as nt, cast(tot.ns as bigint) as ns
              from documents d
              left join parts p on d.doc_id = p.doc_id
              cross join tot""")),
    // bigram LM quality score (r10): mean add-k bigram log-prob under
    // the corpus's own model. ln() differs by final ulps between
    // JVM and C libm (documented verify-skill wall), so this entry is
    // rows-only gated (None oracle); OpsSpec pins hand-computed values
    ("q_text_lm_score",
      (s: SparkSession, dir: String) =>
        graft.ops.TextAnalysis.bigramLmScore(tbl(s, dir, "documents")),
      None),
    // bigram LM integer anchor (r11): the exact count layer feeding
    // the ln-fold — model trained on the even-doc_id half so the
    // OOV/backoff path carries real weight — with a full DuckDB
    // oracle. Every input to q_text_lm_score's libm-bound score is
    // verified here; the score itself stays rows-only (documented).
    ("q_text_lm_parts",
      (s: SparkSession, dir: String) =>
        graft.ops.TextAnalysis.bigramLmParts(
          tbl(s, dir, "documents"),
          Some(tbl(s, dir, "documents").filter("doc_id % 2 = 0"))),
      Some("""with tok as (select doc_id,
                  list_filter(string_split(lower(text), ' '), t -> t <> '') as w
                from documents),
              gx as (select doc_id,
                       unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) as g
                     from tok where len(w) >= 2),
              uni as (select w1, count(*) as cu from
                        (select unnest(w) as w1 from tok where doc_id % 2 = 0) u
                      group by w1),
              bi as (select g, count(*) as cb from gx
                     where doc_id % 2 = 0 group by g),
              vv as (select count(*) as v from uni),
              dg as (select doc_id, g, count(*) as n,
                       split_part(g, ' ', 1) as w1
                     from gx group by doc_id, g),
              agg as (select dg.doc_id,
                        cast(sum(dg.n) as bigint) as n_bigrams,
                        cast(sum(dg.n * coalesce(bi.cb, 0)) as bigint) as sum_num,
                        cast(sum(dg.n * coalesce(uni.cu, 0)) as bigint) as sum_den,
                        cast(sum(case when bi.cb is null then dg.n else 0 end) as bigint) as n_oov
                      from dg
                      left join bi on dg.g = bi.g
                      left join uni on dg.w1 = uni.w1
                      group by dg.doc_id)
              select d.doc_id,
                coalesce(a.n_bigrams, 0) as n_bigrams,
                coalesce(a.sum_num, 0) as sum_num,
                coalesce(a.sum_den, 0) as sum_den,
                coalesce(a.n_oov, 0) as n_oov,
                (select v from vv) as v
              from documents d
              left join agg a on d.doc_id = a.doc_id""")),
    // approximate heavy hitters (r5b): Misra-Gries typed Aggregator —
    // bounded sketch state per partition, ONE global merge, no
    // per-gram shuffle; sketch=4096 exceeds the corpus's distinct
    // bigram count (~931), so counts are EXACT and the plain count
    // oracle checks the whole operator (specs pin the eviction-regime
    // bounds on planted data)
    ("q_ngram_mg",
      (s: SparkSession, dir: String) =>
        graft.ops.TextAnalysis.approxTopNgrams(tbl(s, dir, "documents"), 2, 20),
      Some("""with tok as (select doc_id,
                  list_filter(string_split(lower(text), ' '), t -> t <> '') as w
                from documents),
              gx as (select doc_id,
                       unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) as g
                     from tok where len(w) >= 2)
              select g, count(*) as n_est
              from gx group by g
              order by n_est desc, g asc limit 20""")),
    // within-document span dedup (first occurrence kept, order
    // preserved) — word-separated here; newline-separated in OpsSpec
    ("q_text_dedup_spans",
      (s: SparkSession, dir: String) =>
        graft.ops.TextAnalysis.dedupSpans(
          tbl(s, dir, "documents").select("doc_id", "text"), " "),
      Some("""select doc_id,
                case when text is null then null
                  else array_to_string(
                    list_transform(
                      list_filter(range(1, len(sp) + 1),
                                  i -> list_position(sp, sp[i]) = i),
                      i -> sp[i]), ' ')
                end as text
              from (select doc_id, text, string_split(text, ' ') as sp
                    from documents)""")),
    // FROM-position table functions (r10): read_parquet against the
    // raw file, joined/filtered like any relation; the oracle reads
    // the registered view of the same file
    ("q_read_parquet",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        g.query("select t.n_nationkey, t.n_name, r.r_name from " +
          s"read_parquet('$dir/nation.parquet') t " +
          "join region r on t.n_regionkey = r.r_regionkey " +
          "where t.n_nationkey < 10")
      },
      Some("""select n.n_nationkey, n.n_name, r.r_name from nation n
              join region r on n.n_regionkey = r.r_regionkey
              where n.n_nationkey < 10""")),
    // SUMMARIZE (r10): exact per-column profile in one aggregation
    // pass; the oracle spells the same stats per column (column_type
    // is dropped from the gate projection — Spark/DuckDB type NAMES
    // differ; values are pinned in StatementsSpec)
    ("q_summarize",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        g.query("summarize nation")
          .select("column_name", "min", "max", "n_distinct",
            "n_nulls", "count")
      },
      Some("""select 'n_nationkey' as column_name,
                cast(min(n_nationkey) as varchar) as min,
                cast(max(n_nationkey) as varchar) as max,
                count(distinct n_nationkey) as n_distinct,
                cast(count(*) - count(n_nationkey) as bigint) as n_nulls,
                count(*) as count from nation
              union all select 'n_name', cast(min(n_name) as varchar),
                cast(max(n_name) as varchar), count(distinct n_name),
                cast(count(*) - count(n_name) as bigint), count(*)
                from nation
              union all select 'n_regionkey',
                cast(min(n_regionkey) as varchar),
                cast(max(n_regionkey) as varchar),
                count(distinct n_regionkey),
                cast(count(*) - count(n_regionkey) as bigint), count(*)
                from nation""")),
    // PREPARE/EXECUTE (r10): parameter binding under the driver gate
    // — one $n parameter used twice (the ? positional form is
    // spec-pinned in StatementsSpec); the oracle is the inlined text
    ("q_prepare_exec",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        g.query("prepare pq as select o_orderkey, o_totalprice " +
          "from orders where o_totalprice > $1 and o_orderkey <> $1 " +
          "order by o_totalprice desc, o_orderkey limit 50")
        g.query("execute pq(150000)")
      },
      Some("""select o_orderkey, o_totalprice from orders
              where o_totalprice > 150000 and o_orderkey <> 150000
              order by o_totalprice desc, o_orderkey limit 50""")),
    // CREATE MACRO (r11c): scalar macros — defaults, nesting, and an
    // AGGREGATE body that must plan as a real aggregate (expansion is
    // AST substitution BEFORE translation, so Catalyst sees the
    // composed query); oracle = the hand-expanded SQL
    ("q_macro_scalar",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        g.query("create macro disc_price(p, d := 0.1) as p * (1 - d)")
        g.query("create macro dd(p) as disc_price(p, 0.2) + 1")
        g.query("create macro avg2(x) as sum(x) / count(x)")
        g.query("""select o_orderstatus as st, avg2(o_totalprice) as a,
                     avg2(disc_price(o_totalprice)) as ad,
                     avg2(dd(o_totalprice)) as an
                   from orders group by 1""")
      },
      Some("""select o_orderstatus as st,
                sum(o_totalprice) / count(o_totalprice) as a,
                sum(o_totalprice * (1 - 0.1))
                  / count(o_totalprice * (1 - 0.1)) as ad,
                sum(o_totalprice * (1 - 0.2) + 1)
                  / count(o_totalprice * (1 - 0.2) + 1) as an
              from orders group by 1""")),
    // table macro + scalar macro composition in one query
    ("q_macro_table",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        g.query("create macro disc_price(p, d) as p * (1 - d)")
        g.query("create or replace macro big_orders(lim) as table " +
          "select o_orderkey, o_custkey, o_totalprice from orders " +
          "where o_totalprice > lim")
        g.query("""select b.o_orderkey, b.o_custkey,
                     disc_price(b.o_totalprice, 0.25) as dp
                   from big_orders(400000) b""")
      },
      Some("""select o_orderkey, o_custkey,
                o_totalprice * (1 - 0.25) as dp
              from orders where o_totalprice > 400000""")),
    // multi-statement script (r11c): top-level ';' split (strings/
    // comments respected), statements run in order, LAST frame
    // returned — macros + views + the final SELECT in one call
    ("q_script",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        g.runScript(
          """create macro big(t) as table
               select o_orderkey, o_totalprice from orders
               where o_totalprice > t;
             create view v_big as select * from big(300000);
             -- a comment; with a semicolon and a 'quote
             select count(*) as n,
               cast(min(o_orderkey) as bigint) as k,
               cast(max(o_totalprice) as double) as mx
             from v_big;""")
      },
      Some("""select count(*) as n,
                cast(min(o_orderkey) as bigint) as k,
                cast(max(o_totalprice) as double) as mx
              from orders where o_totalprice > 300000""")),
    // builtin series generators (r11c): generate_series inclusive,
    // range exclusive (DuckDB semantics), lowered to session.range —
    // Spark's splittable parallel long scan, no driver materialization
    ("q_generate_series",
      (s: SparkSession, dir: String) =>
        graftFor(s, dir).query(
          """select g.generate_series % 7 as k, count(*) as n,
               cast(sum(g.generate_series) as bigint) as s,
               cast(sum(r.range) as bigint) as sr
             from generate_series(1, 1000) g
             cross join range(0, 5) r
             group by 1"""),
      Some("""select g.generate_series % 7 as k, count(*) as n,
                cast(sum(g.generate_series) as bigint) as s,
                cast(sum(r.range) as bigint) as sr
              from generate_series(1, 1000) g
              cross join range(0, 5) r
              group by 1""")),
    // COPY statement roundtrip (r10): the full statement path under
    // the driver gate — COPY (query) TO parquet, a typed empty table,
    // COPY FROM appending it back
    ("q_copy_roundtrip",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        val tmp = java.nio.file.Files.createTempDirectory("graft_copy").toString
        g.query("copy (select o_orderkey, o_custkey, o_totalprice " +
          s"from orders) to '$tmp/o.parquet'")
        g.query("create table ocopy (o_orderkey bigint, " +
          "o_custkey bigint, o_totalprice double)")
        g.query(s"copy ocopy from '$tmp/o.parquet'")
        g.query("select * from ocopy")
      },
      Some("select o_orderkey, o_custkey, o_totalprice from orders")),
    // DML family under the driver gate (r11, VERDICT r10 "Next round"
    // #2): execute the statement against a registered copy, SELECT
    // the post-state; the oracle is a DuckDB SELECT spelling the
    // expected state (DuckDB never runs the DML itself — the
    // q_copy_roundtrip precedent). Clause-matrix walls stay in
    // StatementsSpec; these pin the headline paths cross-engine.
    ("q_merge_apply",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        g.query("create table mt as select o_orderkey as k, " +
          "o_totalprice as v, o_orderstatus as st from orders " +
          "where o_orderkey % 4 = 0")
        g.query("""merge into mt using (select o_orderkey as k,
                     o_totalprice as sv from orders
                     where o_orderkey % 2 = 0) s
                   on mt.k = s.k
                   when matched and mt.v < 100000
                     then update set v = s.sv + 1
                   when matched then delete
                   when not matched
                     then insert (k, v, st) values (s.k, s.sv, 'N')""")
        g.query("select k, v, st from mt")
      },
      // every target key (k%4=0) matches a source key (k%2=0 ⊇):
      // cheap orders update in place, expensive ones delete, and the
      // source-only keys (k%2=0, k%4≠0) insert with status 'N'
      Some("""select o_orderkey as k, o_totalprice + 1 as v,
                o_orderstatus as st
              from orders
              where o_orderkey % 4 = 0 and o_totalprice < 100000
              union all
              select o_orderkey, o_totalprice, 'N' from orders
              where o_orderkey % 2 = 0 and o_orderkey % 4 <> 0""")),
    ("q_update_from",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        g.query("create table uc as select c_custkey, c_acctbal, " +
          "c_nationkey from customer")
        g.query("update uc set c_acctbal = uc.c_acctbal + " +
          "nation.n_nationkey from nation " +
          "where uc.c_nationkey = nation.n_nationkey " +
          "and uc.c_acctbal < 0")
        g.query("select c_custkey, c_acctbal, c_nationkey from uc")
      },
      Some("""select c_custkey,
                case when c_acctbal < 0 then c_acctbal + c_nationkey
                     else c_acctbal end as c_acctbal,
                c_nationkey from customer""")),
    ("q_delete_using",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        g.query("create table dl as select o_orderkey, o_custkey, " +
          "o_totalprice from orders")
        g.query("delete from dl using customer " +
          "where dl.o_custkey = customer.c_custkey " +
          "and customer.c_acctbal < 0")
        g.query("select o_orderkey, o_custkey, o_totalprice from dl")
      },
      Some("""select o_orderkey, o_custkey, o_totalprice from orders o
              where not exists (select 1 from customer c
                where c.c_custkey = o.o_custkey and c.c_acctbal < 0)""")),
    ("q_insert_conflict",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        g.query("create table ic as select c_custkey as k, " +
          "c_acctbal as v from customer")
        g.query("""insert into ic
                   select o_custkey * 2 as k, max(o_totalprice) as v
                   from orders group by o_custkey * 2
                   on conflict (k) do update set v = excluded.v + 1""")
        g.query("select k, v from ic")
      },
      Some("""with src as (select o_custkey * 2 as k,
                             max(o_totalprice) as v
                           from orders group by o_custkey * 2)
              select c.c_custkey as k,
                     case when s.k is not null then s.v + 1
                          else c.c_acctbal end as v
              from customer c left join src s on c.c_custkey = s.k
              union all
              select k, v from src
              where k not in (select c_custkey from customer)""")),
    // RETURNING under the driver gate (r11b): the clause's own output
    // IS the query result — an UPDATE's post-update affected rows and
    // a DELETE's deleted rows, unioned; the oracle spells both sets
    // from the original table (DuckDB 1.0 also runs RETURNING, but
    // over its own mutation engine — the SELECT spelling keeps the
    // oracle engine-neutral, the q_merge_apply convention)
    ("q_dml_returning",
      (s: SparkSession, dir: String) => {
        val g = Graft.forDir(s, dir)
        g.query("create table rt as select c_custkey as k, " +
          "c_acctbal as v, c_mktsegment as seg from customer")
        val upd = g.query("""update rt set v = v + 100
          where seg = 'BUILDING' and k % 10 = 0
          returning k, v, 'updated' as what""")
        val del = g.query("""delete from rt
          where seg = 'MACHINERY' and k % 10 = 3
          returning k, v, 'deleted' as what""")
        upd.unionAll(del)
      },
      Some("""select c_custkey as k, c_acctbal + 100 as v,
                'updated' as what
              from customer
              where c_mktsegment = 'BUILDING' and c_custkey % 10 = 0
              union all
              select c_custkey as k, c_acctbal as v, 'deleted' as what
              from customer
              where c_mktsegment = 'MACHINERY' and c_custkey % 10 = 3""")),
    // EXPORT/IMPORT DATABASE under the driver gate (r11, VERDICT r10
    // "Next round" #6): a two-table registry exports, a FRESH
    // registry imports from the manifest, and a join over the
    // restored tables must match the same join over the originals
    ("q_export_roundtrip",
      (s: SparkSession, dir: String) => {
        val g = new Graft(s)
        g.registerTable("en", s.read.parquet(s"$dir/nation.parquet"))
        g.registerTable("er", s.read.parquet(s"$dir/region.parquet"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_expq").toString
        g.query(s"export database '$tmp'")
        val h = new Graft(s)
        h.query(s"import database '$tmp'")
        h.query("select en.n_nationkey, en.n_name, er.r_name from en " +
          "join er on en.n_regionkey = er.r_regionkey")
      },
      Some("""select n.n_nationkey, n.n_name, r.r_name
              from nation n
              join region r on n.n_regionkey = r.r_regionkey""")),
    ("q_csv_roundtrip",
      (s: SparkSession, dir: String) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
        graft.sources.Sources.roundTrip(
          tbl(s, dir, "documents").select("doc_id", "lang", "source", "n_chars"),
          "csv", tmp)
      },
      Some("select doc_id, lang, source, n_chars from documents")),
    ("q_orc_roundtrip",
      (s: SparkSession, dir: String) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
        graft.sources.Sources.roundTrip(
          tbl(s, dir, "documents").select("doc_id", "lang", "source", "n_chars"),
          "orc", tmp)
      },
      Some("select doc_id, lang, source, n_chars from documents")),
    // per-group percentile score calibration (r7): one window shuffle
    // on the group key; ranks are exact 1/(n-1) multiples, UNROUNDED
    // (identical IEEE divisions — rounding lands on .xx5 boundaries)
    ("q_score_calibrate",
      (s: SparkSession, dir: String) =>
        graft.ops.Curation.calibrateScores(
            tbl(s, dir, "documents"), "lang", "n_chars")
          .select("doc_id", "lang", "score_pct", "score_cume"),
      Some("""select doc_id, lang,
                percent_rank() over (partition by lang order by n_chars asc) as score_pct,
                cume_dist() over (partition by lang order by n_chars asc) as score_cume
              from documents""")),
    // token-budget greedy selection (r7): best prefix by cumulative
    // weight strictly-before, overshoot at most one document
    ("q_budget_select",
      (s: SparkSession, dir: String) =>
        graft.ops.Curation.budgetSelect(
            tbl(s, dir, "documents"), "n_chars", 2000000L,
            Seq(F.col("n_chars").desc, F.col("doc_id").asc))
          .select("doc_id", "n_chars"),
      Some("""select doc_id, n_chars from (
                select doc_id, n_chars,
                  coalesce(sum(n_chars) over (
                    order by n_chars desc, doc_id asc
                    rows between unbounded preceding and 1 preceding), 0) as prior
                from documents) t
              where prior < 2000000""")),
    // the SCALE tier (r8): same kept set, but the corpus-sized
    // cumulative sort collapses to per-score-bucket totals — the only
    // single-partition window runs over ≤ buckets rows, and the one
    // straddling bucket pays a BUCKET-partitioned window. Exactness
    // vs the exact tier is also pinned across budgets × tiny bucket
    // counts in OpsSpec; the oracle here is the same exact-semantics
    // cumulative-prior SQL.
    ("q_budget_bucketed",
      (s: SparkSession, dir: String) =>
        graft.ops.Curation.budgetSelectBucketed(
            tbl(s, dir, "documents"), "n_chars", 2000000L,
            "n_chars", "doc_id", buckets = 64)
          .select("doc_id", "n_chars"),
      Some("""select doc_id, n_chars from (
                select doc_id, n_chars,
                  coalesce(sum(n_chars) over (
                    order by n_chars desc, doc_id asc
                    rows between unbounded preceding and 1 preceding), 0) as prior
                from documents) t
              where prior < 2000000""")),
    // declarative constraint audit (r7): all four row-local rules in
    // ONE aggregation pass; uniqueness is a key-grouped two-phase
    // aggregate, referential presence one anti join against the
    // broadcast distinct dim keys
    ("q_quality_audit",
      (s: SparkSession, dir: String) => {
        import graft.ops.Quality._
        auditConstraints(tbl(s, dir, "orders"), Seq(
          NotNull("o_custkey"),
          InRange("o_totalprice", 0.0, 500000.0),
          Matches("o_orderstatus", "^[A-Z]$"),
          InSet("o_orderpriority",
            Seq("1-URGENT", "2-HIGH", "3-MEDIUM")),
          Unique(Seq("o_orderkey")),
          RefIntegrity("o_custkey", tbl(s, dir, "customer"), "c_custkey")))
      },
      Some("""select 'not_null(o_custkey)' as rule,
                cast(sum(case when o_custkey is null then 1 else 0 end) as bigint) as violations
              from orders
              union all
              select 'in_range(o_totalprice)',
                cast(sum(case when o_totalprice is not null
                          and (o_totalprice < 0.0 or o_totalprice > 500000.0)
                         then 1 else 0 end) as bigint)
              from orders
              union all
              select 'matches(o_orderstatus)',
                cast(sum(case when o_orderstatus is not null
                          and not regexp_matches(o_orderstatus, '^[A-Z]$')
                         then 1 else 0 end) as bigint)
              from orders
              union all
              select 'in_set(o_orderpriority)',
                cast(sum(case when o_orderpriority is not null
                          and o_orderpriority not in ('1-URGENT', '2-HIGH', '3-MEDIUM')
                         then 1 else 0 end) as bigint)
              from orders
              union all
              select 'unique(o_orderkey)',
                cast(coalesce(sum(c - 1), 0) as bigint)
              from (select count(*) as c from orders group by o_orderkey) g
              union all
              select 'ref(o_custkey->c_custkey)', cast(count(*) as bigint)
              from orders o
              where o_custkey is not null
                and not exists (select 1 from customer c
                                where c.c_custkey = o.o_custkey)""")),
    // per-dimension embedding stats (r7): one zero-shuffle vector-
    // buffer aggregation (DimStats Aggregator); mean/std rounded 4dp
    // (summation order differs across engines), extrema exact
    ("q_embed_dimstats",
      (s: SparkSession, dir: String) =>
        graft.ops.Similarity.dimensionStats(tbl(s, dir, "embeddings"))
          .select(F.col("dim"), F.col("n"),
            // + 0.0 collapses IEEE negative zero (round of a tiny
            // negative mean) to positive zero on both engines
            (F.round(F.col("mean"), 4) + F.lit(0.0)).as("mean"),
            F.round(F.col("std"), 4).as("std"),
            F.round(F.col("mn"), 5).as("mn"), F.round(F.col("mx"), 5).as("mx")),
      Some("""select cast(dim as int) as dim, cast(count(x) as bigint) as n,
                round(avg(x), 4) + 0.0 as mean,
                round(stddev_samp(x), 4) as std,
                cast(round(min(x), 5) as double) as mn,
                cast(round(max(x), 5) as double) as mx
              from (select unnest(embedding) as x,
                           unnest(range(1, len(embedding) + 1)) as dim
                    from embeddings where embedding is not null)
              group by dim""")),
    // whitening transform (r7b): per-dim z-score via the broadcast
    // dimensionStats row; output exploded to (vec_id, dim, wv) so the
    // checker's float canonicalization applies element-wise (no
    // array-of-float string formatting); 4dp + 0.0 per the
    // summation-order / negative-zero rules
    ("q_embed_whiten",
      (s: SparkSession, dir: String) => {
        val w = graft.ops.Similarity.whiten(tbl(s, dir, "embeddings"))
        w.select(F.col("vec_id"),
            F.posexplode(F.col("whitened")).as(Seq("i0", "w0")))
          .select(F.col("vec_id"), (F.col("i0") + 1).cast("int").as("dim"),
            (F.round(F.col("w0"), 4) + F.lit(0.0)).as("wv"))
      },
      Some("""with x as (select vec_id, unnest(embedding) as v,
                           unnest(range(1, len(embedding) + 1)) as dim
                         from embeddings where embedding is not null),
                   st as (select dim, avg(v) as m, stddev_samp(v) as s
                          from x group by dim)
              select x.vec_id, cast(x.dim as int) as dim,
                round((x.v - st.m) / st.s, 4) + 0.0 as wv
              from x join st using (dim)""")),
    // persisted mergeable HLL distinct sketches (r7): per-batch
    // per-lang sketch build + cross-batch union; the estimate is
    // checked against the exact distinct within the documented
    // 3-sigma HLL error band (rse = 1.04/sqrt(2^12)), the same
    // error-contract oracle pattern as q_text_stats_approx
    ("q_sketch_distinct",
      (s: SparkSession, dir: String) => {
        import graft.ops.Sketches._
        val d = tbl(s, dir, "documents")
          .selectExpr("doc_id", "lang", "md5(text) as h")
        val batches = Seq(0, 1).map(p =>
          distinctSketches(d.filter(s"doc_id % 2 = $p"), Seq("lang"), "h"))
        val est = mergeDistinctEstimates(batches, Seq("lang"))
        val exact = d.groupBy("lang")
          .agg(F.countDistinct("h").as("n_exact"))
        exact.join(est, Seq("lang"))
          .select(F.col("lang"), F.col("n_exact"),
            (F.abs(F.col("distinct_est") - F.col("n_exact")) <=
              F.greatest(F.lit(2.0),
                F.col("n_exact") * (3.0 * 1.04 / math.sqrt(1 << 12))))
              .as("est_in_band"))
      },
      Some("""select lang, cast(count(distinct md5(text)) as bigint) as n_exact,
                true as est_in_band
              from documents group by lang""")),
  )

  /** Flagship: TPC-H Q1-flavored aggregation through the graft engine. */
  def entry(spark: SparkSession): DataFrame =
    graftFor(spark, "/root/testdata/sf0.001").query(
      """select l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) as sum_qty,
           round(sum(l_extendedprice), 2) as sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
           round(avg(l_quantity), 4) as avg_qty,
           count(*) as count_order
         from lineitem
         group by l_returnflag, l_linestatus
         order by l_returnflag, l_linestatus""")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val shared = (sharedSql ++ sharedSqlWindowExt).map { case (name, sql) =>
      name -> ((s: SparkSession, dir: String) => graftFor(s, dir).query(sql))
    }
    val dialect = dialectSql.map { case (name, graftSqlText, _) =>
      name -> ((s: SparkSession, dir: String) => graftFor(s, dir).query(graftSqlText))
    }
    val ops = opEntries.map { case (name, fn, _) => name -> fn }
    (shared ++ dialect ++ ops).toMap
  }

  /** DuckDB-runnable oracle SQL, column names matching `queries`. */
  def oracleSql: Map[String, String] =
    (sharedSql ++ sharedSqlWindowExt ++
      dialectSql.map { case (n, _, o) => (n, o) } ++
      opEntries.collect { case (n, _, Some(o)) => (n, o) }).toMap
}
