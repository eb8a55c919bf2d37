package graft.sql

import graft.SparkTestBase
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Whole-query differential fuzzing: generate random SELECTs over the
  * customer table (valid in both dialects), run them through graft AND
  * spark.sql, and require identical row sets. Catches translator edge
  * cases the hand-written specs don't enumerate. */
class QueryFuzzSpec extends SparkTestBase {

  private val numCols = Seq("c_custkey", "c_nationkey", "c_acctbal")
  private val strCols = Seq("c_name", "c_mktsegment")

  private val genNumExpr: Gen[String] = for {
    c <- Gen.oneOf(numCols)
    form <- Gen.oneOf(0, 1, 2, 3)
    k <- Gen.choose(1, 9)
  } yield form match {
    case 0 => c
    case 1 => s"($c + $k)"
    case 2 => s"($c * $k)"
    case 3 => s"coalesce($c, $k)"
  }

  private val genPred: Gen[String] = for {
    c <- Gen.oneOf(numCols)
    op <- Gen.oneOf("<", ">", "<=", ">=", "=", "<>")
    v <- Gen.choose(0, 2000)
    extra <- Gen.option(for {
      s <- Gen.oneOf(strCols)
      kw <- Gen.oneOf("is not null", "is null")
      conj <- Gen.oneOf("and", "or")
    } yield s" $conj $s $kw")
  } yield s"$c $op $v${extra.getOrElse("")}"

  private val genAggQuery: Gen[String] = for {
    key <- Gen.oneOf("c_nationkey", "c_mktsegment")
    agg <- Gen.oneOf("count(*)", "round(sum(c_acctbal), 2)",
      "round(avg(c_acctbal), 4)", "min(c_custkey)", "max(c_custkey)",
      "count(distinct c_mktsegment)")
    pred <- Gen.option(genPred)
    having <- Gen.option(Gen.choose(1, 20).map(n => s"count(*) > $n"))
  } yield s"select $key, $agg as v from customer" +
    pred.map(p => s" where $p").getOrElse("") +
    s" group by $key" + having.map(h => s" having $h").getOrElse("")

  private val genSelectQuery: Gen[String] = for {
    e1 <- genNumExpr
    s <- Gen.oneOf(strCols)
    pred <- Gen.option(genPred)
    distinct <- Gen.oneOf("", "distinct ")
  } yield s"select $distinct$e1 as x, $s from customer" +
    pred.map(p => s" where $p").getOrElse("")

  private val genQuery: Gen[String] =
    Gen.frequency(2 -> genSelectQuery, 2 -> genAggQuery)

  test("80 random queries match spark.sql exactly") {
    val queries = Gen.listOfN(80, genQuery)
      .pureApply(Gen.Parameters.default, Seed(7L))
    queries.distinct.foreach { sql =>
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // IN-subquery in conjunct and non-conjunct positions, NOT IN, and
  // computed IN-list elements — the round-2 lowerings (semi/anti hoist
  // vs existence-flag join must agree with Spark's own subquery
  // planning in every mix)
  private val genInPred: Gen[String] = for {
    neg <- Gen.oneOf("", "not ")
    form <- Gen.oneOf(0, 1, 2, 3)
    v <- Gen.choose(0, 4)
    conj <- Gen.oneOf("and", "or")
    p <- genPred
  } yield form match {
    case 0 => s"c_nationkey ${neg}in (select n_nationkey from nation where n_regionkey = $v) $conj $p"
    case 1 => s"c_nationkey ${neg}in ($v, ${v + 3}, c_custkey - ${v * 7})"
    case 2 => s"c_nationkey ${neg}in (select n_nationkey from nation where n_regionkey <> $v)"
    case 3 => s"($p) $conj c_nationkey ${neg}in (select n_nationkey from nation where n_regionkey < $v)"
  }

  // window functions over a tie-free ordering (c_custkey is unique):
  // rank family, offsets, aggregates with and without explicit frames
  private val genWindowQuery: Gen[String] = for {
    part <- Gen.oneOf("c_nationkey", "c_mktsegment")
    fn <- Gen.oneOf(
      "cast(rank() over w as bigint)",
      "cast(dense_rank() over w as bigint)",
      "cast(row_number() over w as bigint)",
      "percent_rank() over w",
      "cume_dist() over w",
      "lag(c_acctbal, 1) over w",
      "lead(c_custkey, 2) over w",
      "first_value(c_custkey) over w",
      "round(sum(c_acctbal) over w, 2)",
      "round(avg(c_acctbal) over w, 4)",
      "round(sum(c_acctbal) over (partition by c_nationkey order by c_custkey rows between 2 preceding and current row), 2)",
      "round(min(c_acctbal) over (partition by c_nationkey order by c_custkey rows between unbounded preceding and current row), 2)")
    pred <- Gen.option(genPred)
  } yield (s"select c_custkey, ${fn.replace("over w", s"over (partition by $part order by c_custkey)")} as v" +
    s" from customer" + pred.map(p => s" where $p").getOrElse(""))

  test("40 random window queries match spark.sql exactly") {
    val queries = Gen.listOfN(40, genWindowQuery)
      .pureApply(Gen.Parameters.default, Seed(23L))
    queries.distinct.foreach { sql =>
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // simple CASE (r12): comparand forms over numeric and string
  // expressions, with and without ELSE, nested in projections and
  // predicates — spark.sql runs the identical text natively (its
  // CaseKeyWhen), a true differential oracle for the r12 lowering
  private val genSimpleCase: Gen[String] = for {
    k <- Gen.choose(2, 5)
    kind <- Gen.oneOf(0, 1, 2)
    withElse <- Gen.oneOf(true, false)
    nBranch <- Gen.choose(1, 3)
  } yield {
    val (comparand, whenVal) = kind match {
      case 0 => (s"c_nationkey % $k", (i: Int) => s"$i")
      case 1 => (s"substr(c_mktsegment, 1, 1)",
        (i: Int) => s"'${"ABFHM".charAt(i % 5)}'")
      case 2 => (s"cast(c_custkey % $k as int)", (i: Int) => s"$i")
    }
    val branches = (0 until nBranch)
      .map(i => s"when ${whenVal(i)} then ${i * 10}").mkString(" ")
    val els = if (withElse) " else -1" else ""
    s"case $comparand $branches$els end"
  }

  private val genSimpleCaseQuery: Gen[String] = for {
    c1 <- genSimpleCase
    c2 <- genSimpleCase
    pred <- Gen.option(genPred)
  } yield s"select c_custkey, $c1 as v, $c2 as w from customer" +
    pred.map(p => s" where $p").getOrElse("")

  test("30 random simple-CASE queries match spark.sql exactly (r12)") {
    val queries = Gen.listOfN(30, genSimpleCaseQuery)
      .pureApply(Gen.Parameters.default, Seed(41L))
    queries.distinct.foreach { sql =>
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // join shapes (r12): every join kind spark.sql can also parse, with
  // compound ON conditions, post-join predicates, and aggregates over
  // the joined result — differential coverage for the join translator
  private val genJoinQuery: Gen[String] = for {
    kind <- Gen.oneOf("join", "inner join", "left join", "right join",
      "full join", "left semi join", "left anti join")
    onExtra <- Gen.option(Gen.choose(0, 4).map(v => s" and n_regionkey < $v"))
    pred <- Gen.option(genPred)
    agg <- Gen.oneOf(true, false)
  } yield {
    val semiAnti = kind.contains("semi") || kind.contains("anti")
    val proj =
      if (semiAnti) "c_custkey, c_mktsegment"
      else "c_custkey, c_mktsegment, n_name"
    val on = s"c_nationkey = n_nationkey${onExtra.getOrElse("")}"
    val base = s"customer $kind nation on $on"
    if (agg && !semiAnti)
      s"select n_name, count(*) as n, min(c_custkey) as m from $base" +
        pred.map(p => s" where $p").getOrElse("") + " group by n_name"
    else if (agg)
      s"select c_mktsegment, count(*) as n from $base" +
        pred.map(p => s" where $p").getOrElse("") + " group by c_mktsegment"
    else s"select $proj from $base" +
      pred.map(p => s" where $p").getOrElse("")
  }

  test("30 random join queries match spark.sql exactly (r12)") {
    val queries = Gen.listOfN(30, genJoinQuery)
      .pureApply(Gen.Parameters.default, Seed(59L))
    queries.distinct.foreach { sql =>
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // correlated EXISTS / scalar-aggregate forms (round-2 lowerings)
  private val genCorrPred: Gen[String] = for {
    form <- Gen.oneOf(0, 1, 2, 3)
    v <- Gen.choose(0, 3000)
    agg <- Gen.oneOf("count(*)", "max(o_totalprice)", "avg(o_totalprice)")
    cmp <- Gen.oneOf("<", ">", "<=", ">=")
  } yield form match {
    case 0 =>
      s"exists (select 1 from orders where orders.o_custkey = customer.c_custkey and o_totalprice > $v)"
    case 1 =>
      s"not exists (select 1 from orders where orders.o_custkey = customer.c_custkey and o_totalprice > $v)"
    case 2 =>
      s"c_acctbal $cmp (select $agg from orders where orders.o_custkey = customer.c_custkey)"
    case 3 =>
      s"c_acctbal $cmp (select $agg from orders where orders.o_custkey = customer.c_custkey and o_totalprice > $v) / 100"
  }

  test("30 random correlated-subquery queries match spark.sql exactly") {
    val preds = Gen.listOfN(30, genCorrPred)
      .pureApply(Gen.Parameters.default, Seed(31L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey from customer where $pred"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // round-3 lowerings: correlated [NOT] IN in conjunct AND non-conjunct
  // positions, with null-bearing probes/keys to stress 3VL
  private val genCorrInPred: Gen[String] = for {
    neg <- Gen.oneOf("", "not ")
    v <- Gen.choose(0, 3000)
    k <- Gen.choose(0, 1500)
    probe <- Gen.oneOf("c_custkey", s"nullif(c_custkey, $k)")
    key <- Gen.oneOf("o_custkey", s"nullif(o_custkey, $k)")
    tail <- Gen.option(for {
      c <- Gen.oneOf("and", "or"); p <- genPred
    } yield s" $c $p")
  } yield s"$probe ${neg}in (select $key from orders" +
    s" where orders.o_custkey = customer.c_custkey and o_totalprice > $v)" +
    tail.getOrElse("")

  test("40 random correlated-IN queries match spark.sql exactly") {
    val preds = Gen.listOfN(40, genCorrInPred)
      .pureApply(Gen.Parameters.default, Seed(41L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey from customer where $pred"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // round-3 lowerings: [NOT] EXISTS under OR and nested NOT
  private val genExistsOrPred: Gen[String] = for {
    neg <- Gen.oneOf("", "not ")
    v <- Gen.choose(0, 3000)
    p <- genPred
    shape <- Gen.oneOf(0, 1, 2)
    ex = s"${neg}exists (select 1 from orders" +
      s" where orders.o_custkey = customer.c_custkey and o_totalprice > $v)"
  } yield shape match {
    case 0 => s"$ex or $p"
    case 1 => s"not ($ex or $p)"
    case 2 => s"($p) or $ex"
  }

  test("30 random EXISTS-under-OR queries match spark.sql exactly") {
    val preds = Gen.listOfN(30, genExistsOrPred)
      .pureApply(Gen.Parameters.default, Seed(43L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey from customer where $pred"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // round-3 lowerings: [NOT] IN / EXISTS subqueries in HAVING, with
  // key and aggregate probes
  private val genHavingSubQuery: Gen[String] = for {
    neg <- Gen.oneOf("", "not ")
    probe <- Gen.oneOf("c_nationkey", "count(*)", "min(c_custkey)")
    v <- Gen.choose(0, 30)
    shape <- Gen.oneOf(0, 1)
    extra <- Gen.option(Gen.choose(1, 60).map(n => s" and count(*) > $n"))
  } yield {
    val sub = shape match {
      case 0 => s"select n_nationkey from nation where n_nationkey < $v"
      case 1 => s"select nullif(n_nationkey, ${v / 2}) from nation where n_nationkey < $v"
    }
    s"select c_nationkey, count(*) as cnt from customer group by c_nationkey" +
      s" having $probe ${neg}in ($sub)${extra.getOrElse("")}"
  }

  test("30 random HAVING-subquery queries match spark.sql exactly") {
    val queries = Gen.listOfN(30, genHavingSubQuery)
      .pureApply(Gen.Parameters.default, Seed(47L))
    queries.distinct.foreach { sql =>
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  test("40 random IN-position queries match spark.sql exactly") {
    val preds = Gen.listOfN(40, genInPred)
      .pureApply(Gen.Parameters.default, Seed(11L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey from customer where $pred"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // GROUP BY whose key tuple is a superset of the projected items
  // (the round-3 distinct-collapse fix), with and without aggregates
  private val genGroupSupersetQuery: Gen[String] = for {
    k1 <- Gen.oneOf("c_nationkey", "c_mktsegment")
    k2 <- Gen.oneOf("c_custkey % 7", "substring(c_name, 1, 4)")
    withAgg <- Gen.oneOf(true, false)
    pred <- Gen.option(genPred)
  } yield {
    val items = if (withAgg) s"$k1, count(*) as n" else s"$k1"
    s"select $items from customer" +
      pred.map(p => s" where $p").getOrElse("") +
      s" group by $k1, $k2"
  }

  test("30 random superset-key GROUP BY queries match spark.sql exactly") {
    val queries = Gen.listOfN(30, genGroupSupersetQuery)
      .pureApply(Gen.Parameters.default, Seed(59L))
    queries.distinct.foreach { sql =>
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // projected IN/EXISTS booleans (round-3): in plain projections and
  // alongside GROUP BY, where the existence flag must survive the
  // aggregation via the key-append mechanism
  private val genProjectedFlagQuery: Gen[String] = for {
    neg <- Gen.oneOf("", "not ")
    v <- Gen.choose(0, 4)
    grouped <- Gen.oneOf(true, false)
    agg <- Gen.oneOf(true, false)
    pred <- Gen.option(genPred)
  } yield {
    val flag =
      s"c_nationkey ${neg}in (select n_nationkey from nation where n_regionkey <= $v)"
    val where = pred.map(p => s" where $p").getOrElse("")
    if (grouped) {
      val aggItem = if (agg) ", count(*) as n" else ""
      s"select c_nationkey, $flag as f$aggItem from customer$where" +
        " group by c_nationkey order by c_nationkey"
    } else
      s"select c_custkey, $flag as f from customer$where order by c_custkey"
  }

  test("30 random projected-flag queries match spark.sql exactly") {
    val queries = Gen.listOfN(30, genProjectedFlagQuery)
      .pureApply(Gen.Parameters.default, Seed(61L))
    queries.distinct.foreach { sql =>
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // QUALIFY (round-3): spark.sql has no QUALIFY, so each generated
  // query carries its own subquery-form oracle — the pair is built
  // from the same random pieces
  private val genQualifyPair: Gen[(String, String)] = for {
    part <- Gen.oneOf("c_nationkey", "c_mktsegment")
    ord <- Gen.oneOf("c_acctbal desc, c_custkey", "c_custkey",
      "c_name, c_custkey")
    wf <- Gen.oneOf("row_number()", "rank()", "dense_rank()")
    k <- Gen.choose(1, 5)
    grouped <- Gen.oneOf(false, true)
    pred <- Gen.option(genPred)
  } yield if (grouped) {
    val w = s"$wf over (order by count(*) desc, $part)"
    (s"select $part, count(*) as cnt from customer" +
       pred.map(p => s" where $p").getOrElse("") +
       s" group by $part qualify $w <= $k",
     s"select $part, cnt from (select $part, count(*) as cnt," +
       s" $w as __w from customer" +
       pred.map(p => s" where $p").getOrElse("") +
       s" group by $part) where __w <= $k")
  } else {
    val w = s"$wf over (partition by $part order by $ord)"
    (s"select c_custkey, $part from customer" +
       pred.map(p => s" where $p").getOrElse("") +
       s" qualify $w <= $k",
     s"select c_custkey, $part from (select c_custkey, $part," +
       s" $w as __w from customer" +
       pred.map(p => s" where $p").getOrElse("") +
       s") where __w <= $k")
  }

  // row-value constructors (r9): random tuple comparisons and tuple
  // [NOT] IN forms. Comparison oracles use Spark's independent struct
  // ordering (fields cast to double — struct comparison demands
  // identical field types); null-member equality and tuple IN-lists
  // use the spelled element-wise form (struct equality treats NULL as
  // a value, unlike the standard); tuple IN subqueries pass the SAME
  // text to spark.sql (native multi-column IN, conformant in filter
  // position).
  private val genRowValuePair: Gen[(String, String)] = for {
    form <- Gen.choose(0, 3)
    op <- Gen.oneOf("=", "<>", "<", "<=", ">", ">=")
    neg <- Gen.oneOf("", "not ")
    v <- Gen.choose(0, 24)
    k <- Gen.choose(0, 9)
  } yield form match {
    case 0 =>
      val (e1, e2) = ("c_nationkey", s"c_custkey % ${k + 2}")
      (s"select c_custkey from customer where ($e1, $e2) $op ($v, $k)",
       s"select c_custkey from customer where " +
         s"struct(cast($e1 as double), cast($e2 as double)) $op " +
         s"struct(cast($v as double), cast($k as double))")
    case 1 =>
      val e2 = s"nullif(c_custkey % ${k + 2}, $k)"
      val arm = s"c_nationkey = $v and $e2 = ${k % (k + 2)}"
      val oracle = if (op == "=") arm else s"not ($arm)"
      val gop = if (op == "=") "=" else "<>"
      (s"select c_custkey from customer where (c_nationkey, $e2) $gop ($v, ${k % (k + 2)})",
       s"select c_custkey from customer where $oracle")
    case 2 =>
      val pairs = Seq((v % 25, k), ((v + 7) % 25, (k + 3) % 10))
      val tuples = pairs.map { case (a, b) => s"($a, $b)" }.mkString(", ")
      val arms = pairs.map { case (a, b) =>
        s"(c_nationkey = $a and c_custkey % 10 = $b)" }.mkString(" or ")
      val oracle = if (neg.isEmpty) arms else s"not ($arms)"
      (s"select c_custkey from customer where (c_nationkey, c_custkey % 10) ${neg}in ($tuples)",
       s"select c_custkey from customer where $oracle")
    case _ =>
      val sub = s"select n_regionkey, n_regionkey % ${k + 2} from nation where n_nationkey < ${v % 20 + 3}"
      val probe2 =
        if (k % 3 == 0) s"nullif(c_nationkey % ${k + 2}, ${k % (k + 2)})"
        else s"c_nationkey % ${k + 2}"
      val q = s"select c_custkey from customer where (c_nationkey, $probe2) ${neg}in ($sub)"
      (q, q)
  }

  test("40 random row-value queries match spark.sql (r9)") {
    val pairs = Gen.listOfN(40, genRowValuePair)
      .pureApply(Gen.Parameters.default, Seed(61L))
    pairs.distinct.foreach { case (graftSql, oracle) =>
      withClue(s"\nquery: $graftSql\noracle: $oracle\n") {
        assertSameRows(graftSession.query(graftSql), spark.sql(oracle))
      }
    }
  }

  test("30 random QUALIFY queries match their subquery form") {
    val pairs = Gen.listOfN(30, genQualifyPair)
      .pureApply(Gen.Parameters.default, Seed(53L))
    pairs.distinct.foreach { case (graftSql, oracle) =>
      withClue(s"\nquery: $graftSql\noracle: $oracle\n") {
        assertSameRows(graftSession.query(graftSql), spark.sql(oracle))
      }
    }
  }

  // round-4 lowerings: theta (range) correlated conjuncts mixed with
  // equality correlations, in conjunct and flag positions, [NOT]
  // variants, null-bearing keys — graft decorrelates flag positions
  // through per-group min/max, so every op direction must agree with
  // Spark's own subquery planning
  private val genThetaPred: Gen[String] = for {
    neg <- Gen.oneOf("", "not ")
    op <- Gen.oneOf("<", "<=", ">", ">=", "<>", "!=")
    mult <- Gen.choose(1, 60)
    k <- Gen.choose(0, 1500)
    key <- Gen.oneOf("o_custkey", s"nullif(o_custkey, $k)")
    shape <- Gen.oneOf(0, 1, 2, 3)
    p <- genPred
    ex = s"${neg}exists (select 1 from orders" +
      s" where orders.o_custkey = customer.c_custkey" +
      s" and o_totalprice $op customer.c_acctbal * $mult)"
    inq = s"c_custkey ${neg}in (select $key from orders" +
      s" where orders.o_custkey = customer.c_custkey" +
      s" and o_totalprice $op customer.c_acctbal * $mult)"
  } yield shape match {
    case 0 => ex
    case 1 => inq
    case 2 => s"($ex) or $p"
    case 3 => s"($inq) or $p"
  }

  // round-4c: JOINT theta conditions — several range/<> conjuncts per
  // correlated subquery, lowered through the distinct-outer-tuple
  // path (min/max cannot decompose a joint condition); optional
  // equality correlation, [NOT] variants, null-bearing IN keys,
  // conjunct/OR/flag positions, plus scalar aggregates
  private val genJointThetaPred: Gen[String] = for {
    neg <- Gen.oneOf("", "not ")
    op1 <- Gen.oneOf("<", "<=", ">", ">=", "<>")
    op2 <- Gen.oneOf("<", ">", "<>", "<=")
    mult <- Gen.choose(1, 60)
    mod <- Gen.choose(2, 9)
    k <- Gen.choose(0, 1500)
    key <- Gen.oneOf("o_custkey", s"nullif(o_custkey, $k)")
    keyed <- Gen.oneOf(true, false)
    shape <- Gen.oneOf(0, 1, 2, 3)
    p <- genPred
    corr = if (keyed) "orders.o_custkey = customer.c_custkey and " else ""
    thetas = s"o_totalprice $op1 customer.c_acctbal * $mult" +
      s" and o_orderkey % $mod $op2 customer.c_custkey % $mod"
    ex = s"${neg}exists (select 1 from orders where $corr$thetas)"
    inq = s"c_custkey ${neg}in (select $key from orders where $corr$thetas)"
  } yield shape match {
    case 0 => ex
    case 1 => inq
    case 2 => s"($ex) or $p"
    case 3 => s"($inq) or $p"
  }

  // round-4d: quantified comparisons (ANY/SOME/ALL). spark.sql has no
  // quantified-subquery support, so the oracle is the standard-SQL
  // truth table spelled as CASE over scalar subqueries (count/min/max
  // bounds), which spark.sql does plan — keyed and uncorrelated
  // forms, null-bearing sets via nullif, conjunct/OR/projected
  // positions. `= ANY`/`<> ALL` are excluded here (they canonicalize
  // to [NOT] IN and ride the separately-fuzzed IN machinery).
  private def quantOracle(op: String, all: Boolean, x: String,
                          item: String, where: String): String = {
    def sq(sel: String) = s"(select $sel from orders where $where)"
    val cnt = sq("count(*)"); val cntNN = sq(s"count($item)")
    val mn = sq(s"min($item)"); val mx = sq(s"max($item)")
    if (!all) {
      val anyTrue = op match {
        case "<"  => s"$x < $mx"
        case "<=" => s"$x <= $mx"
        case ">"  => s"$x > $mn"
        case ">=" => s"$x >= $mn"
        case "<>" => s"($mn <> $mx or $mn <> $x)"
      }
      s"(case when $cnt = 0 then false" +
        s" when ($x) is null then cast(null as boolean)" +
        s" when $anyTrue then true" +
        s" when $cnt > $cntNN then cast(null as boolean)" +
        s" else false end)"
    } else {
      val someFalse = op match {
        case "<"  => s"$x >= $mn"
        case "<=" => s"$x > $mn"
        case ">"  => s"$x <= $mx"
        case ">=" => s"$x < $mx"
        case "="  => s"($mn <> $x or $mx <> $x)"
      }
      s"(case when $cnt = 0 then true" +
        s" when ($x) is null then cast(null as boolean)" +
        s" when $someFalse then false" +
        s" when $cnt > $cntNN then cast(null as boolean)" +
        s" else true end)"
    }
  }

  private val genQuantPair: Gen[(String, String)] = for {
    all <- Gen.oneOf(true, false)
    op <- if (all) Gen.oneOf("<", "<=", ">", ">=", "=")
          else Gen.oneOf("<", "<=", ">", ">=", "<>")
    quant <- if (all) Gen.const("all") else Gen.oneOf("any", "some")
    mult <- Gen.choose(1, 60)
    k <- Gen.choose(0, 3000)
    item <- Gen.oneOf("o_custkey", s"nullif(o_custkey, $k)")
    keyed <- Gen.oneOf(true, false)
    // 0 = no theta, 1 = one range theta, 2 = joint theta pair — all
    // through the distinct-outer-tuple summary
    nTheta <- Gen.oneOf(0, 0, 1, 1, 2)
    top1 <- Gen.oneOf("<", "<=", ">", ">=")
    tmult <- Gen.choose(10, 80)
    mod <- Gen.choose(2, 9)
    bound <- Gen.choose(1000, 200000)
    px <- Gen.choose(0, 1400)
    x <- Gen.oneOf("c_custkey", s"c_acctbal * $mult", s"nullif(c_custkey, $px)")
    shape <- Gen.oneOf(0, 1, 2)
    p <- genPred
    theta = (if (nTheta >= 1)
        s" and o_totalprice $top1 customer.c_acctbal * $tmult" else "") +
      (if (nTheta >= 2)
        s" and o_orderkey % $mod < customer.c_custkey % $mod" else "")
    where = (if (keyed) "orders.o_custkey = customer.c_custkey and " else "") +
      s"o_totalprice < $bound$theta"
    pred = s"$x $op $quant (select $item from orders where $where)"
    oracle = quantOracle(op, all, x, item, where)
  } yield shape match {
    case 0 => (s"select c_custkey from customer where $pred",
               s"select c_custkey from customer where $oracle")
    case 1 => (s"select c_custkey from customer where ($pred) or $p",
               s"select c_custkey from customer where ($oracle) or $p")
    case 2 => (s"select c_custkey, ($pred) as f from customer",
               s"select c_custkey, $oracle as f from customer")
  }

  test("60 random quantified-comparison queries match the 3VL rewrite") {
    val pairs = Gen.listOfN(60, genQuantPair)
      .pureApply(Gen.Parameters.default, Seed(113L))
    pairs.distinct.foreach { case (sql, oracle) =>
      withClue(s"\nquery: $sql\noracle: $oracle\n") {
        assertSameRows(graftSession.query(sql), spark.sql(oracle))
      }
    }
  }

  test("40 random JOINT-theta correlated queries match spark.sql exactly") {
    val preds = Gen.listOfN(40, genJointThetaPred)
      .pureApply(Gen.Parameters.default, Seed(97L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey from customer where $pred"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  private val genJointThetaScalar: Gen[String] = for {
    op1 <- Gen.oneOf("<", "<=", ">", ">=", "<>")
    op2 <- Gen.oneOf("<", ">", "<=")
    agg <- Gen.oneOf("count(*)", "max(o_totalprice)",
      "round(max(o_totalprice) - min(o_totalprice), 2)")
    mult <- Gen.choose(1, 60)
    mod <- Gen.choose(2, 9)
    keyed <- Gen.oneOf(true, false)
  } yield {
    val corr = if (keyed) "orders.o_custkey = customer.c_custkey and " else ""
    s"(select $agg from orders where $corr" +
      s"o_totalprice $op1 customer.c_acctbal * $mult" +
      s" and o_orderkey % $mod $op2 customer.c_custkey % $mod)"
  }

  test("25 random JOINT-theta correlated scalars match spark.sql exactly") {
    val preds = Gen.listOfN(25, genJointThetaScalar)
      .pureApply(Gen.Parameters.default, Seed(101L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey, $pred as v from customer"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // round-4: named WINDOW definitions — graft parses the WINDOW
  // clause itself; spark.sql supports the same syntax, so the whole
  // query is the differential oracle
  private val genNamedWindowQuery: Gen[String] = for {
    part <- Gen.oneOf("c_nationkey", "c_mktsegment")
    fn <- Gen.oneOf("cast(rank() over w as bigint)",
      "cast(row_number() over w as bigint)",
      "round(sum(c_acctbal) over w, 2)",
      "lag(c_custkey, 1) over w",
      "percent_rank() over w")
    extra <- Gen.oneOf(true, false)
    pred <- Gen.option(genPred)
  } yield {
    val sel = if (extra)
      s"select c_custkey, $fn as v, round(avg(c_acctbal) over w2, 4) as v2"
    else s"select c_custkey, $fn as v"
    val defs = if (extra)
      s"window w as (partition by $part order by c_custkey), w2 as (partition by $part)"
    else s"window w as (partition by $part order by c_custkey)"
    s"$sel from customer" + pred.map(p => s" where $p").getOrElse("") + s" $defs"
  }

  test("25 random named-window queries match spark.sql exactly") {
    val queries = Gen.listOfN(25, genNamedWindowQuery)
      .pureApply(Gen.Parameters.default, Seed(59L))
    queries.distinct.foreach { sql =>
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // round-4: GROUPING SETS with expression keys (shared named
  // grouping columns) — spark.sql runs the same text
  private val genGroupingSetsQuery: Gen[String] = for {
    k <- Gen.oneOf("c_nationkey", "c_mktsegment")
    div <- Gen.choose(2, 9)
    expr = s"c_custkey % $div"
    shape <- Gen.oneOf(0, 1, 2)
    agg <- Gen.oneOf("count(*)", "round(sum(c_acctbal), 2)", "min(c_custkey)")
  } yield shape match {
    case 0 =>
      s"select $k, $expr as e, $agg as v from customer" +
        s" group by grouping sets (($k, $expr), ($k), ())"
    case 1 =>
      s"select $expr as e, $agg as v from customer" +
        s" group by grouping sets (($expr), ())"
    case 2 =>
      s"select $k, $expr as e, $agg as v from customer" +
        s" group by grouping sets (($k, $expr), ($expr))"
  }

  test("25 random expression-key grouping-set queries match spark.sql exactly") {
    val queries = Gen.listOfN(25, genGroupingSetsQuery)
      .pureApply(Gen.Parameters.default, Seed(61L))
    queries.distinct.foreach { sql =>
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // round-4: correlated scalar subqueries with GROUP BY / HAVING /
  // multi-aggregate expressions
  private val genScalarGroupedPred: Gen[String] = for {
    agg <- Gen.oneOf("count(*)", "max(o_totalprice)",
      "max(o_totalprice) - min(o_totalprice)", "count(*) * 2")
    v <- Gen.choose(0, 20)
    shape <- Gen.oneOf(0, 1, 2)
  } yield shape match {
    case 0 =>
      s"(select $agg from orders where orders.o_custkey = customer.c_custkey" +
        s" group by orders.o_custkey)"
    case 1 =>
      s"(select $agg from orders where orders.o_custkey = customer.c_custkey" +
        s" having count(*) > $v)"
    case 2 =>
      s"(select $agg from orders where orders.o_custkey = customer.c_custkey" +
        s" group by orders.o_custkey having count(*) > $v)"
  }

  // round-4b: theta-correlated scalar subqueries — aggregate over the
  // rows a range/<> comparison against the outer row selects
  private val genThetaScalar: Gen[String] = for {
    op <- Gen.oneOf("<", "<=", ">", ">=", "<>")
    agg <- Gen.oneOf("count(*)", "max(o_totalprice)",
      "round(max(o_totalprice) - min(o_totalprice), 2)")
    mult <- Gen.choose(1, 60)
    keyed <- Gen.oneOf(true, false)
  } yield {
    val corr = if (keyed) "orders.o_custkey = customer.c_custkey and " else ""
    s"(select $agg from orders where $corr" +
      s"o_totalprice $op customer.c_acctbal * $mult)"
  }

  test("30 random theta-correlated scalars match spark.sql exactly") {
    val preds = Gen.listOfN(30, genThetaScalar)
      .pureApply(Gen.Parameters.default, Seed(89L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey, $pred as v from customer"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // round-5b: LATERAL top-n — spark.sql supports lateral subqueries
  // with ORDER BY/LIMIT natively, so the whole query differentials.
  // The o_orderkey tiebreak keeps every pick deterministic.
  private val genLateralTopN: Gen[String] = for {
    k <- Gen.choose(1, 3)
    off <- Gen.oneOf(0, 0, 1)
    dir <- Gen.oneOf("asc", "desc")
    kind <- Gen.oneOf("cross join lateral", "left join lateral")
    sort <- Gen.oneOf("o_totalprice", "o_orderkey % 97", "o_custkey + o_orderkey")
  } yield {
    val on = if (kind.startsWith("left")) " on true" else ""
    val offSql = if (off > 0) s" offset $off" else ""
    s"""select c.c_custkey, t.o_orderkey from customer c
        $kind (select o_orderkey from orders
               where orders.o_custkey = c.c_custkey
               order by $sort $dir, o_orderkey limit $k$offSql) t$on"""
  }

  test("20 random LATERAL top-n queries match spark.sql exactly") {
    val qs = Gen.listOfN(20, genLateralTopN)
      .pureApply(Gen.Parameters.default, Seed(131L))
    qs.distinct.foreach { sql =>
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // round-5b: theta-correlated scalars WITH inner GROUP BY (by the
  // correlation key -> one group per tuple) and optional HAVING.
  // spark.sql rejects non-equality correlation under aggregation, so
  // the oracle is the hand-decorrelated join built from the same
  // parameters and run through spark.sql.
  private val genGroupedThetaScalarPair: Gen[(String, String)] = for {
    op <- Gen.oneOf("<", "<=", ">", ">=")
    agg <- Gen.oneOf("count(*)", "max(l2.l_extendedprice)",
      "min(l2.l_linenumber)")
    div <- Gen.choose(2, 6)
    havOp <- Gen.oneOf(">", ">=") // >= 0 PASSES over empty: pins the
                                  // zero-selected-rows ⟹ NULL contract
    hav <- Gen.option(Gen.choose(0, 3))
    // r13: the GROUP-BY-less HAVING shape rides the same fused window
    // lowering — fuzz it against the identical decorrelated oracle
    // (one group per correlation key either way)
    grp <- Gen.oneOf(true, true, false)
  } yield {
    val aggO = agg.replace("l2.", "")
    val havG = hav.map(v => s" having count(*) $havOp $v").getOrElse("")
    val grpG = if (grp || hav.isEmpty) " group by l2.l_orderkey" else ""
    val graftSql =
      s"""select o_orderkey,
            (select $agg from lineitem l2
             where l2.l_orderkey = orders.o_orderkey
               and l2.l_extendedprice $op orders.o_totalprice / $div$grpG$havG) as v
          from orders"""
    val oracleSql =
      s"""select orders.o_orderkey, t.v from orders
          left join (select l2.l_orderkey as k, $aggO as v
                     from orders o2 join lineitem l2
                       on l2.l_orderkey = o2.o_orderkey
                      and l2.l_extendedprice $op o2.o_totalprice / $div
                     group by l2.l_orderkey$havG) t
            on orders.o_orderkey = t.k"""
    (graftSql, oracleSql)
  }

  // round-5b: grouped + HAVING EXISTS with theta correlation — the
  // per-tuple-survivor lowering, oracle = hand-decorrelated grouped
  // join (with NOT EXISTS as the complement)
  private val genGroupedThetaExistsPair: Gen[(String, String)] = for {
    op <- Gen.oneOf("<", ">")
    mult <- Gen.choose(10, 120)
    thr <- Gen.choose(1, 3)
    neg <- Gen.oneOf(false, false, true)
  } yield {
    val ex =
      s"""exists (select 1 from orders o
            where o.o_custkey = c.c_custkey
              and o.o_totalprice $op c.c_acctbal * $mult
            group by o.o_orderdate having count(*) >= $thr)"""
    val innerSet =
      s"""select distinct c2.c_custkey from customer c2
          join orders o on o.o_custkey = c2.c_custkey
                       and o.o_totalprice $op c2.c_acctbal * $mult
          group by c2.c_custkey, c2.c_acctbal, o.o_orderdate
          having count(*) >= $thr"""
    if (neg)
      (s"select c_custkey from customer c where not $ex",
       s"select c_custkey from customer where c_custkey not in ($innerSet)")
    else
      (s"select c_custkey from customer c where $ex",
       s"select c_custkey from customer where c_custkey in ($innerSet)")
  }

  // round-5b: correlated EXISTS/IN in HAVING (group-key equality) —
  // oracle = the subquery-over-aggregated-result rewrite
  private val genHavingCorrPair: Gen[(String, String)] = for {
    bal <- Gen.choose(0, 8000)
    form <- Gen.oneOf("exists", "not_exists", "in", "not_in")
  } yield {
    val inner =
      s"select 1 from supplier s where s.s_nationkey = c.c_nationkey " +
        s"and s.s_acctbal > $bal"
    val innerVal =
      s"select s.s_suppkey from supplier s where s.s_nationkey = c.c_nationkey " +
        s"and s.s_acctbal > $bal"
    val (havingSql, oracleCond) = form match {
      case "exists" => (s"exists ($inner)",
        s"exists (select 1 from supplier s where s.s_nationkey = t.c_nationkey and s.s_acctbal > $bal)")
      case "not_exists" => (s"not exists ($inner)",
        s"not exists (select 1 from supplier s where s.s_nationkey = t.c_nationkey and s.s_acctbal > $bal)")
      case "in" => (s"count(*) in ($innerVal)",
        s"exists (select 1 from supplier s where s.s_nationkey = t.c_nationkey and s.s_acctbal > $bal and s.s_suppkey = t.n)")
      case _ => (s"count(*) not in ($innerVal)",
        s"not exists (select 1 from supplier s where s.s_nationkey = t.c_nationkey and s.s_acctbal > $bal and s.s_suppkey = t.n)")
    }
    (s"""select c.c_nationkey, count(*) as n from customer c
         group by c.c_nationkey having $havingSql""",
     s"""select c_nationkey, n from (
           select c_nationkey, count(*) as n from customer
           group by c_nationkey) t where $oracleCond""")
  }

  test("16 random correlated HAVING EXISTS/IN match their rewrites") {
    val pairs = Gen.listOfN(16, genHavingCorrPair)
      .pureApply(Gen.Parameters.default, Seed(139L))
    pairs.distinct.foreach { case (g, o) =>
      withClue(s"\nquery: $g\n") {
        assertSameRows(graftSession.query(g), spark.sql(o))
      }
    }
  }

  // correlated `op ANY/ALL (subquery)` in HAVING (group-key equality):
  // the set holds NULLs (every k-th customer), the probe can be NULL,
  // and a high balance threshold leaves correlation groups empty.
  // Oracle = the EXISTS rewrite over the aggregated derived table:
  // ANY holds iff some comparison is TRUE; ALL iff none is FALSE or
  // UNKNOWN (so an empty set passes ALL and fails ANY)
  private val genHavingQuantPair: Gen[(String, String)] = for {
    bal <- Gen.choose(-1000, 9800)
    nullEvery <- Gen.choose(2, 6)
    all <- Gen.oneOf(false, true)
    op <- if (all) Gen.oneOf("<", "<=", ">", ">=", "=")
          else Gen.oneOf("<", "<=", ">", ">=", "<>")
    nullAt <- Gen.option(Gen.choose(3, 13))
  } yield {
    def v(a: String) =
      s"case when $a.c_custkey % $nullEvery = 0 then null else $a.c_custkey % 15 end"
    val probe = nullAt.map(k => s"case when count(*) = $k then null else count(*) end")
      .getOrElse("count(*)")
    val corr = s"c2.c_nationkey = c.c_nationkey and c2.c_acctbal > $bal"
    val oCorr = s"c2.c_nationkey = t.c_nationkey and c2.c_acctbal > $bal"
    val oracleCond =
      if (all) s"not exists (select 1 from customer c2 where $oCorr " +
        s"and not coalesce(t.p $op ${v("c2")}, false))"
      else s"exists (select 1 from customer c2 where $oCorr and t.p $op ${v("c2")})"
    (s"""select c.c_nationkey, count(*) as n from customer c
         group by c.c_nationkey
         having $probe $op ${if (all) "all" else "any"}
           (select ${v("c2")} from customer c2 where $corr)""",
     s"""select c_nationkey, n from (
           select c_nationkey, count(*) as n, $probe as p from customer
           group by c_nationkey) t where $oracleCond""")
  }

  test("16 random correlated HAVING quantified comparisons match their EXISTS rewrites") {
    val pairs = Gen.listOfN(16, genHavingQuantPair)
      .pureApply(Gen.Parameters.default, Seed(149L))
    pairs.distinct.foreach { case (g, o) =>
      withClue(s"\nquery: $g\n") {
        assertSameRows(graftSession.query(g), spark.sql(o))
      }
    }
  }

  test("12 random grouped-theta EXISTS match their decorrelated form") {
    val pairs = Gen.listOfN(12, genGroupedThetaExistsPair)
      .pureApply(Gen.Parameters.default, Seed(137L))
    pairs.distinct.foreach { case (g, o) =>
      withClue(s"\nquery: $g\n") {
        assertSameRows(graftSession.query(g), spark.sql(o))
      }
    }
  }

  test("25 random grouped/having-theta correlated scalars match their decorrelated form") {
    val pairs = Gen.listOfN(25, genGroupedThetaScalarPair)
      .pureApply(Gen.Parameters.default, Seed(113L))
    pairs.distinct.foreach { case (g, o) =>
      withClue(s"\nquery: $g\n") {
        assertSameRows(graftSession.query(g), spark.sql(o))
      }
    }
  }

  test("30 random grouped/HAVING correlated scalars match spark.sql exactly") {
    val preds = Gen.listOfN(30, genScalarGroupedPred)
      .pureApply(Gen.Parameters.default, Seed(67L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey, $pred as v from customer"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  test("40 random theta-correlated queries match spark.sql exactly") {
    val preds = Gen.listOfN(40, genThetaPred)
      .pureApply(Gen.Parameters.default, Seed(47L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey from customer where $pred"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // round-4b: correlated IN/EXISTS whose inner query AGGREGATES
  // (nonempty GROUP BY, optional HAVING) — decorrelated through the
  // grouped derived-table rewrite (Translator.degroupCorrSub) in
  // conjunct, OR-branch, and projected-flag positions
  private def genGroupedCorrPred(nullKeys: Boolean): Gen[String] = for {
    neg <- Gen.oneOf("", "not ")
    g <- Gen.oneOf("o_orderdate", "o_orderpriority", "o_orderstatus")
    n <- Gen.choose(1, 3)
    t <- Gen.choose(1000, 300000)
    k <- Gen.choose(0, 1500)
    having <- Gen.oneOf("", s" having count(*) >= $n",
      s" having sum(o_totalprice) > $t")
    // null-bearing IN-sets only where spark.sql follows standard 3VL:
    // in WHERE position UNKNOWN drops the row either way, but in
    // PROJECTION position spark.sql returns false where the standard
    // (and graft) says NULL — the documented spark.sql deviation
    inKey <- if (nullKeys)
      Gen.oneOf("o_custkey", s"nullif(o_custkey, $k)", "max(o_custkey)")
    else Gen.oneOf("o_custkey", "max(o_custkey)")
    shape <- Gen.oneOf(0, 1, 2, 3)
    p <- genPred
    ex = s"${neg}exists (select 1 from orders" +
      s" where orders.o_custkey = customer.c_custkey group by $g$having)"
    inq = s"c_custkey ${neg}in (select $inKey from orders" +
      s" where orders.o_custkey = customer.c_custkey" +
      s" group by o_custkey, $g$having)"
  } yield shape match {
    case 0 => ex
    case 1 => inq
    case 2 => s"($ex) or $p"
    case 3 => s"($inq) or $p"
  }

  test("40 random grouped-correlated IN/EXISTS queries match spark.sql exactly") {
    val preds = Gen.listOfN(40, genGroupedCorrPred(nullKeys = true))
      .pureApply(Gen.Parameters.default, Seed(71L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey from customer where $pred"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  test("20 random projected grouped-correlated flags match spark.sql exactly") {
    val preds = Gen.listOfN(20, genGroupedCorrPred(nullKeys = false))
      .pureApply(Gen.Parameters.default, Seed(73L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey, ($pred) as flag from customer"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // round-4b: GROUP-BY-less HAVING EXISTS (the "more than N related
  // rows" idiom) — rewriteHavingOnlyExists splits nonempty groups
  // from the h-on-empty-input guard; thresholds chosen to exercise
  // both disjuncts (count(*) = 0 is TRUE exactly on empty groups)
  private val genHavingOnlyExists: Gen[String] = for {
    neg <- Gen.oneOf("", "not ")
    n <- Gen.choose(0, 9)
    agg <- Gen.oneOf(s"count(*) > $n", "count(*) = 0", s"count(*) <= $n",
      s"sum(o_totalprice) > ${n * 50000}",
      s"avg(o_totalprice) > ${100000 + n * 10000}",
      s"max(o_totalprice) < ${150000 + n * 20000}")
    local <- Gen.oneOf("", " and o_totalprice > 100000")
    shape <- Gen.oneOf(0, 1, 2)
    p <- genPred
    ex = s"${neg}exists (select 1 from orders" +
      s" where orders.o_custkey = customer.c_custkey$local having $agg)"
  } yield shape match {
    case 0 => ex
    case 1 => s"($ex) or $p"
    case 2 => s"($ex) and ($p or $ex)"
  }

  test("30 random HAVING-only EXISTS queries match spark.sql exactly") {
    val preds = Gen.listOfN(30, genHavingOnlyExists)
      .pureApply(Gen.Parameters.default, Seed(79L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey from customer where $pred"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  test("15 random projected HAVING-only EXISTS flags match spark.sql exactly") {
    val preds = Gen.listOfN(15, genHavingOnlyExists)
      .pureApply(Gen.Parameters.default, Seed(83L))
    preds.distinct.foreach { pred =>
      val sql = s"select c_custkey, ($pred) as flag from customer"
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  // ---- round 5 fuzz classes -----------------------------------------

  // SEMI/ANTI joins must agree with their EXISTS/NOT EXISTS forms
  // (same LeftSemi/LeftAnti lowering reached through different syntax)
  private val genSemiAnti: Gen[(String, String)] = for {
    kind <- Gen.oneOf("semi", "anti")
    spelling <- Gen.oneOf("", "left ")
    v <- Gen.choose(0, 400000)
  } yield {
    val pred = s"o_totalprice > $v"
    val g = s"select c_custkey from customer $spelling$kind join orders " +
      s"on o_custkey = c_custkey and $pred"
    val o =
      if (kind == "semi")
        "select c_custkey from customer where exists " +
          s"(select 1 from orders where o_custkey = c_custkey and $pred)"
      else
        "select c_custkey from customer where not exists " +
          s"(select 1 from orders where o_custkey = c_custkey and $pred)"
    (g, o)
  }

  test("30 random semi/anti joins match their EXISTS forms") {
    Gen.listOfN(30, genSemiAnti).pureApply(Gen.Parameters.default, Seed(91L))
      .distinct.foreach { case (g, o) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(o))
        }
      }
  }

  // FETCH FIRST n ROWS WITH TIES ≡ rank() <= n (the semi-join
  // lowering must keep exactly the tied key tuples, every direction)
  private val genTies: Gen[(String, String)] = for {
    col <- Gen.oneOf("c_nationkey", "c_mktsegment", "c_acctbal")
    dir <- Gen.oneOf("asc", "desc")
    n <- Gen.choose(1, 120)
  } yield (
    s"select c_custkey, $col from customer order by $col $dir " +
      s"fetch first $n rows with ties",
    s"select c_custkey, $col from (select c_custkey, $col, " +
      s"rank() over (order by $col $dir) as rk from customer) t " +
      s"where rk <= $n")

  test("25 random WITH TIES queries match the rank filter") {
    Gen.listOfN(25, genTies).pureApply(Gen.Parameters.default, Seed(92L))
      .distinct.foreach { case (g, o) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(o))
        }
      }
  }

  // IGNORE NULLS: the DuckDB inside-parens position must mean exactly
  // what spark.sql's standard after-parens spelling means
  private val genIgnoreNulls: Gen[(String, String)] = for {
    fn <- Gen.oneOf("lag", "lead")
    off <- Gen.choose(1, 3)
    part <- Gen.oneOf("c_nationkey", "c_mktsegment")
    mod <- Gen.choose(2, 5)
  } yield {
    val v = s"nullif(c_custkey % $mod, 0)"
    val spec = s"over (partition by $part order by c_custkey)"
    (s"select c_custkey, $fn($v, $off ignore nulls) $spec as x from customer",
     s"select c_custkey, $fn($v, $off) ignore nulls $spec as x from customer")
  }

  test("20 random IGNORE NULLS offsets match spark.sql") {
    Gen.listOfN(20, genIgnoreNulls)
      .pureApply(Gen.Parameters.default, Seed(93L))
      .distinct.foreach { case (g, o) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(o))
        }
      }
  }

  // ordered-set string_agg vs the collect_list/array_sort formulation
  private val genOrderedAgg: Gen[(String, String)] = for {
    sep <- Gen.oneOf(",", "|", ";")
    asc <- Gen.oneOf(true, false)
    key <- Gen.oneOf("c_nationkey", "c_mktsegment")
  } yield {
    val dir = if (asc) "" else " desc"
    val inner = "array_sort(collect_list(struct(c_custkey, c_name)))"
    val ordered = if (asc) inner else s"reverse($inner)"
    (s"select $key, string_agg(c_name, '$sep' order by c_custkey$dir) as s " +
       s"from customer group by $key",
     s"select $key, array_join(transform($ordered, t -> t.c_name), '$sep') " +
       s"as s from customer group by $key")
  }

  test("12 random ordered string_agg queries match the sort formulation") {
    Gen.listOfN(12, genOrderedAgg)
      .pureApply(Gen.Parameters.default, Seed(94L))
      .distinct.foreach { case (g, o) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(o))
        }
      }
  }

  // PIVOT ≡ its conditional-aggregation expansion for every aggregate
  private val genPivotPair: Gen[(String, String)] = for {
    agg <- Gen.oneOf("sum(l_quantity)", "min(l_quantity)",
      "max(l_quantity)", "round(avg(l_quantity), 4)")
    flip <- Gen.oneOf(true, false)
  } yield {
    val (v1, v2) = if (flip) ("O", "F") else ("F", "O")
    def cell(v: String) =
      agg.replace("l_quantity", s"case when l_linestatus = '$v' then l_quantity end")
    (s"select * from (select l_returnflag, l_linestatus, l_quantity " +
       s"from lineitem) pivot ($agg for l_linestatus in ('$v1' as a, '$v2' as b))",
     s"select l_returnflag, ${cell(v1)} as a, ${cell(v2)} as b " +
       s"from lineitem group by l_returnflag")
  }

  test("8 random pivots match conditional aggregation") {
    Gen.listOfN(8, genPivotPair)
      .pureApply(Gen.Parameters.default, Seed(95L))
      .distinct.foreach { case (g, o) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(o))
        }
      }
  }

  // UNNEST ≡ explode over regex-safe separators
  private val genUnnest: Gen[(String, String)] = for {
    sep <- Gen.oneOf(" ", "a", "e")
    k <- Gen.choose(5, 30)
  } yield (
    s"select doc_id, unnest(string_split(text, '$sep')) as t " +
      s"from documents where doc_id % $k = 0",
    s"select doc_id, explode(split(text, '$sep')) as t " +
      s"from documents where doc_id % $k = 0")

  test("10 random unnests match explode") {
    Gen.listOfN(10, genUnnest)
      .pureApply(Gen.Parameters.default, Seed(96L))
      .distinct.foreach { case (g, o) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(o))
        }
      }
  }

  // ---- round 5c: GENERAL correlated predicates -----------------------
  // correlation under OR / NOT, mixed-side comparisons, outer-only
  // IS NULL disjuncts — lowered through the distinct-outer-tuple join
  // on the full condition. spark.sql 4.x plans the same text
  // (DecorrelateInnerQuery), giving a same-text differential oracle.

  /** A correlated predicate corrSplit cannot reduce to key/theta
    * pairs: an equality arm OR'd/negated with a second arm. */
  private val genGeneralCorrPred: Gen[String] = for {
    k <- Gen.choose(1, 9)
    v <- Gen.choose(1000, 200000)
    armB <- Gen.oneOf(
      s"o.o_totalprice > c.c_acctbal * $k",        // theta arm
      s"o.o_custkey % 25 = c.c_nationkey",          // equality arm
      s"o.o_custkey + c.c_custkey = ${k * 30}",     // mixed-side arm
      s"c.c_acctbal < ${v / 100}",                  // outer-only arm
      s"o.o_totalprice < $v")                       // inner-only arm
    shape <- Gen.oneOf(0, 1, 2)
  } yield shape match {
    case 0 => s"o.o_custkey = c.c_custkey or $armB"
    case 1 => s"not (o.o_custkey <> c.c_custkey and not ($armB))"
    case 2 => s"(o.o_custkey = c.c_custkey or $armB) " +
      s"and o.o_totalprice < ${v * 2}"
  }

  /** Frame-EXCLUDE fuzz (r5c): graft's subtraction lowering vs the
    * spelled-out subtraction in spark.sql — identical float algebra,
    * so doubles compare exactly. */
  private val genExcludeQuery: Gen[(String, String)] = for {
    agg <- Gen.oneOf("sum", "count", "avg")
    mode <- Gen.oneOf("current row", "group", "ties")
    part <- Gen.oneOf("c_nationkey", "c_mktsegment")
  } yield {
    // RANGE frame (GROUP/TIES-eligible), order by a tie-bearing key
    val frame = "range between unbounded preceding and current row"
    val over = s"partition by $part order by c_acctbal"
    val arg = "c_custkey"
    val g =
      s"""select c_custkey, $agg($arg) over ($over $frame
            exclude $mode) as v from customer"""
    val frameAgg = s"$agg($arg) over ($over $frame)"
    val peerCnt = s"count($arg) over (partition by $part, c_acctbal)"
    val peerSum = s"sum($arg) over (partition by $part, c_acctbal)"
    val frameCnt = s"count($arg) over ($over $frame)"
    val (exclCnt, exclSum) = mode match {
      case "current row" => ("1", s"$arg")
      case "group"       => (peerCnt, peerSum)
      case "ties"        => (s"$peerCnt - 1", s"$peerSum - $arg")
    }
    val o = agg match {
      case "count" => s"""select c_custkey,
          $frameCnt - ($exclCnt) as v from customer"""
      case "sum" => s"""select c_custkey,
          case when $frameCnt - ($exclCnt) > 0
               then $frameAgg - ($exclSum) end as v from customer"""
      case "avg" => s"""select c_custkey,
          case when $frameCnt - ($exclCnt) > 0
               then (sum($arg) over ($over $frame) - ($exclSum))
                    / ($frameCnt - ($exclCnt)) end as v from customer"""
    }
    (g, o)
  }

  test("18 random frame-EXCLUDE queries match the subtraction rewrite") {
    Gen.listOfN(18, genExcludeQuery)
      .pureApply(Gen.Parameters.default, Seed(101L))
      .distinct.foreach { case (g, o) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(o))
        }
      }
  }

  /** min/max frame-EXCLUDE fuzz (r6): graft's split-frame lowering vs
    * the spelled-out least/greatest of the two sub-frames in
    * spark.sql. ROWS offsets need a deterministic order — c_custkey
    * is unique. Bounds draw one-sided and empty splits too. */
  private val genExcludeMinMaxQuery: Gen[(String, String)] = for {
    agg <- Gen.oneOf("min", "max")
    start <- Gen.oneOf("unbounded preceding", "3 preceding",
      "1 preceding", "current row")
    end <- Gen.oneOf("current row", "1 following", "2 following",
      "unbounded following")
    part <- Gen.oneOf("c_nationkey", "c_mktsegment")
  } yield {
    val over = s"partition by $part order by c_custkey"
    val g = s"""select c_custkey, $agg(c_acctbal) over ($over
          rows between $start and $end exclude current row) as v
        from customer"""
    val combine = if (agg == "min") "least" else "greatest"
    val pre =
      if (start == "current row") None
      else Some(s"$agg(c_acctbal) over ($over rows between $start and 1 preceding)")
    val post =
      if (end == "current row") None
      else Some(s"$agg(c_acctbal) over ($over rows between 1 following and $end)")
    val v = (pre, post) match {
      case (Some(p), Some(q)) => s"$combine($p, $q)"
      case (Some(p), None)    => p
      case (None, Some(q))    => q
      case (None, None)       => "cast(null as double)"
    }
    (g, s"select c_custkey, $v as v from customer")
  }

  test("20 random min/max frame-EXCLUDE queries match the split rewrite") {
    Gen.listOfN(20, genExcludeMinMaxQuery)
      .pureApply(Gen.Parameters.default, Seed(103L))
      .distinct.foreach { case (g, o) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(o))
        }
      }
  }

  /** Generic collect-over-frame EXCLUDE fuzz (r8): on a UNIQUE
    * argument DISTINCT is a semantic no-op, so `agg(DISTINCT x) ...
    * EXCLUDE m` (the r8 generic fallback) must equal `agg(x) ...
    * EXCLUDE m` (the subtraction / split-frame fast paths) — a
    * CI-runnable cross-validation of two independent lowerings.
    * c_custkey is globally unique; RANGE frames order by it so peer
    * groups are singletons (GROUP == CURRENT ROW there, also checked
    * by the equivalence). */
  private val genExcludeGenericQuery: Gen[(String, String)] = for {
    mode <- Gen.oneOf("current row", "group", "ties")
    isRows <- Gen.oneOf(true, false)
    // min/max fast paths exist only for ROWS + EXCLUDE CURRENT ROW
    agg <- if (isRows && mode == "current row")
             Gen.oneOf("sum", "count", "avg", "min", "max")
           else Gen.oneOf("sum", "count", "avg")
    part <- Gen.oneOf("c_nationkey", "c_mktsegment")
    start <- Gen.oneOf("unbounded preceding", "3 preceding", "current row")
    end <- Gen.oneOf("current row", "2 following", "unbounded following")
  } yield {
    val kind = if (isRows) "rows" else "range"
    val over = s"partition by $part order by c_custkey"
    def q(distinct: String) =
      s"""select c_custkey, $agg(${distinct}c_custkey) over ($over
            $kind between $start and $end exclude $mode) as v
          from customer"""
    (q("distinct "), q(""))
  }

  test("24 random generic-EXCLUDE queries match the fast-path lowering (r8)") {
    Gen.listOfN(60, genExcludeGenericQuery)
      .pureApply(Gen.Parameters.default, Seed(108L))
      .distinct.take(24).foreach { case (g, o) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), graftSession.query(o))
        }
      }
  }

  /** ROWS-frame GROUP/TIES EXCLUDE fuzz (r7): graft replays the same
    * ROWS bounds inside the peer-group partition under a shared
    * whole-row-hash tiebreak; the spark.sql oracle spells out the
    * identical two-window formula with its own explicit tiebreak.
    * Output columns are (partition, order key, v) with aggregate args
    * that are order-key functions, so the row multiset is invariant
    * under tie order — the engines need not agree on a tiebreak. */
  private val genExcludeRowsGroupQuery: Gen[(String, String)] = for {
    agg <- Gen.oneOf("sum", "count", "avg")
    mode <- Gen.oneOf("group", "ties")
    part <- Gen.oneOf("c_nationkey", "c_mktsegment")
    start <- Gen.oneOf("unbounded preceding", "3 preceding",
      "1 preceding", "current row")
    end <- Gen.oneOf("current row", "1 following", "2 following",
      "unbounded following")
  } yield {
    val frame = s"rows between $start and $end"
    val arg = if (agg == "count") "*" else "c_acctbal"
    val g =
      s"""select $part, c_acctbal, $agg($arg) over (partition by $part
            order by c_acctbal $frame exclude $mode) as v from customer"""
    val tb = "xxhash64(struct(*))"
    val fw = s"partition by $part order by c_acctbal, $tb $frame"
    val pw = s"partition by $part, c_acctbal order by $tb $frame"
    val cntArg = if (agg == "count") "*" else "c_acctbal"
    val fCnt = s"count($cntArg) over ($fw)"
    val pCnt = s"count($cntArg) over ($pw)"
    val exclCnt = if (mode == "group") pCnt else s"($pCnt - 1)"
    val o = agg match {
      case "count" =>
        s"select $part, c_acctbal, $fCnt - $exclCnt as v from customer"
      case _ =>
        val fSum = s"sum(c_acctbal) over ($fw)"
        val pSum = s"sum(c_acctbal) over ($pw)"
        val exclSum =
          if (mode == "group") pSum else s"($pSum - c_acctbal)"
        val sumExpr = s"$fSum - $exclSum"
        val body =
          if (agg == "sum") sumExpr
          else s"($sumExpr) / ($fCnt - $exclCnt)"
        s"""select $part, c_acctbal,
              case when $fCnt - $exclCnt > 0 then $body end as v
            from customer"""
    }
    (g, o)
  }

  test("24 random ROWS-frame GROUP/TIES EXCLUDE queries match the rewrite") {
    Gen.listOfN(24, genExcludeRowsGroupQuery)
      .pureApply(Gen.Parameters.default, Seed(107L))
      .distinct.foreach { case (g, o) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(o))
        }
      }
  }

  /** Grouped LATERAL fuzz (r7 — SURVEY 36ap's last loud wall):
    * LATERAL aggregate subqueries with inner GROUP BY / HAVING and
    * key-eq + theta + OR-disjunct (general) correlation, in CROSS and
    * LEFT spellings, vs Spark SQL's NATIVE lateral decorrelation — an
    * independent engine-side oracle (different plan shape entirely:
    * Catalyst's DecorrelateInnerQuery vs graft's distinct-tuple
    * machinery). Money sums round at 4dp: the two plans aggregate in
    * different orders. */
  /** Windowed ordered-set aggregates with OVER-level ORDER BY/frames
    * (r7 — SURVEY 36ar): random frames × internal element order, vs a
    * Spark-native collect_list formulation. The window orders by the
    * UNIQUE o_orderkey so frames are total-ordered: internal ASC ==
    * frame order, internal DESC == its reverse — an independent
    * lowering (Spark's own WindowExec collect vs graft's comparator
    * sort wrap). */
  private val genOrderedSetWindowQuery: Gen[(String, String)] = for {
    frame <- Gen.oneOf(
      "rows between unbounded preceding and current row",
      "rows between 2 preceding and current row",
      "rows between 1 preceding and 1 following",
      "rows between current row and 2 following",
      "rows between unbounded preceding and unbounded following")
    desc <- Gen.oneOf(false, true)
    fn <- Gen.oneOf("string_agg", "array_agg")
    pred <- Gen.oneOf("o_custkey % 89 = 0", "o_custkey % 97 = 1",
      "o_custkey < 400")
  } yield {
    val dir = if (desc) " desc" else ""
    val call =
      if (fn == "string_agg")
        s"string_agg(cast(o_orderkey as string), ',' order by o_orderkey$dir)"
      else s"array_agg(o_orderkey order by o_orderkey$dir)"
    val over = s"over (partition by o_custkey order by o_orderkey $frame)"
    val g = s"""select o_custkey, o_orderkey, $call $over as agg
                from orders where $pred"""
    val collect =
      if (fn == "string_agg") "collect_list(cast(o_orderkey as string))"
      else "collect_list(o_orderkey)"
    val base = s"$collect $over"
    val shaped = if (desc) s"reverse($base)" else base
    val rendered =
      if (fn == "string_agg") s"array_join($shaped, ',')" else shaped
    val sqlRef = s"""select o_custkey, o_orderkey, $rendered as agg
                     from orders where $pred"""
    (g, sqlRef)
  }

  test("16 random windowed ordered-set frame queries match Spark collect_list") {
    Gen.listOfN(16, genOrderedSetWindowQuery)
      .pureApply(Gen.Parameters.default, Seed(113L))
      .distinct.foreach { case (g, s) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(s))
        }
      }
  }

  private val genLateralGroupedQuery: Gen[(String, String)] = for {
    key <- Gen.oneOf("o_orderstatus", "o_orderpriority")
    agg <- Gen.oneOf(
      Seq("count(*) as n"),
      Seq("count(*) as n", "round(sum(o.o_totalprice), 4) as s"),
      Seq("round(max(o.o_totalprice), 4) as mx"))
    corr <- Gen.oneOf(
      "o.o_custkey = c.c_custkey",
      "o.o_custkey = c.c_custkey and (o.o_orderstatus = 'F' " +
        "or o.o_totalprice < c.c_acctbal * 10)",
      "o.o_custkey = c.c_custkey and o.o_totalprice < c.c_acctbal * 40",
      "o.o_custkey = c.c_custkey and (o.o_totalprice > c.c_acctbal " +
        "or o.o_orderpriority like '1%') " +
        "and o.o_totalprice < c.c_acctbal * 60")
    having <- Gen.oneOf("", "having count(*) > 1", "having count(*) >= 3")
    kind <- Gen.oneOf("cross", "left")
  } yield {
    val outCols = "a.k" +: agg.map(a => "a." + a.split(" as ").last.trim)
    val sub = s"""(select o.$key as k, ${agg.mkString(", ")}
                   from orders o where $corr group by o.$key $having) a"""
    val joinG =
      if (kind == "left") s"left join lateral $sub on true"
      else s"cross join lateral $sub"
    val joinS =
      if (kind == "left") s"left join lateral $sub"
      else s"join lateral $sub"
    (s"select c.c_custkey, ${outCols.mkString(", ")} from customer c $joinG",
     s"select c.c_custkey, ${outCols.mkString(", ")} from customer c $joinS")
  }

  test("20 random grouped-LATERAL queries match Spark's native lateral") {
    Gen.listOfN(20, genLateralGroupedQuery)
      .pureApply(Gen.Parameters.default, Seed(109L))
      .distinct.foreach { case (g, s) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(s))
        }
      }
  }

  /** Grouped + general correlation in FLAG positions (r6 — the last
    * correlation-matrix cell): EXISTS/IN over GROUP BY [+ HAVING]
    * inners with OR/NOT/mixed-side correlation, in projected-flag,
    * OR-position and NOT-position forms. spark.sql cannot plan the
    * flag forms directly (mixed outer/local aggregate refs), so the
    * oracle is the hand-decorrelation: "some group passes HAVING" =
    * scalar max over per-group counts; membership = EXISTS over the
    * derived per-group aggregate table. */
  private val genGroupedFlagQuery: Gen[(String, String)] = for {
    pred <- genGeneralCorrPred
    thr <- Gen.choose(1, 3)
    groupKey <- Gen.oneOf("o.o_orderdate", "o.o_orderkey % 5")
    isIn <- Gen.oneOf(false, true)
    pos <- Gen.oneOf(0, 1, 2)
  } yield {
    val (flagG, flagO) =
      if (!isIn) (
        s"""exists (select 1 from orders o where $pred
              group by $groupKey having count(*) >= $thr)""",
        s"""coalesce((select max(cnt) from (
              select count(*) as cnt from orders o where $pred
              group by $groupKey)) >= $thr, false)""")
      else (
        s"""$thr in (select count(*) from orders o where $pred
              group by $groupKey)""",
        s"""exists (select 1 from (
              select count(*) as cnt from orders o where $pred
              group by $groupKey) where cnt = $thr)""")
    pos match {
      case 0 => (
        s"select c_custkey, $flagG as f from customer c where c_custkey <= 150",
        s"select c_custkey, $flagO as f from customer c where c_custkey <= 150")
      case 1 => (
        s"select c_custkey from customer c where c_acctbal < 500 or $flagG",
        s"select c_custkey from customer c where c_acctbal < 500 or $flagO")
      case _ => (
        s"select c_custkey from customer c where not ($flagG) and c_custkey <= 150",
        s"select c_custkey from customer c where not ($flagO) and c_custkey <= 150")
    }
  }

  test("24 random grouped-general flags match the hand-decorrelated rewrite") {
    Gen.listOfN(24, genGroupedFlagQuery)
      .pureApply(Gen.Parameters.default, Seed(107L))
      .distinct.foreach { case (g, o) =>
        withClue(s"\nquery: $g\n") {
          assertSameRows(graftSession.query(g), spark.sql(o))
        }
      }
  }

  test("30 random general-correlated EXISTS flags match spark.sql") {
    val preds = Gen.listOfN(30, genGeneralCorrPred)
      .pureApply(Gen.Parameters.default, Seed(97L))
    preds.distinct.foreach { pred =>
      val sql =
        s"""select c_custkey,
                   exists (select 1 from orders o where $pred) as flag
            from customer c where c_custkey <= 120"""
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  test("25 random general-correlated IN under OR match spark.sql") {
    val cases = Gen.listOfN(25, for {
      p <- genGeneralCorrPred
      neg <- Gen.oneOf("", "not ")
      probe <- Gen.oneOf("c.c_custkey", "c.c_nationkey * 40")
    } yield (p, neg, probe)).pureApply(Gen.Parameters.default, Seed(98L))
    cases.distinct.foreach { case (pred, neg, probe) =>
      // WHERE position under OR (graft's flag path; spark.sql agrees
      // on 3VL there — its documented deviation is projection-only)
      val sql =
        s"""select c_custkey from customer c
            where ($probe ${neg}in (select o.o_custkey % 150 from orders o
                                    where $pred))
               or c.c_acctbal < -900"""
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  test("25 random general-correlated scalar counts match spark.sql") {
    val preds = Gen.listOfN(25, genGeneralCorrPred)
      .pureApply(Gen.Parameters.default, Seed(99L))
    preds.distinct.foreach { pred =>
      val sql =
        s"""select c_custkey,
                   (select count(*) from orders o where $pred) as cnt
            from customer c where c_custkey <= 100"""
      withClue(s"\nquery: $sql\n") {
        assertSameRows(graftSession.query(sql), spark.sql(sql))
      }
    }
  }

  test("30 random GROUPS-frame queries match their two-step rewrites (r7b)") {
    // non-exclude cases check against spark.sql's independent
    // evaluation of the dense_rank + RANGE rewrite; exclude cases
    // route the rewrite through graft's OWN range-frame EXCLUDE
    // machinery (itself fuzzed against spelled-out algebra) — an
    // independent lowering path for the GROUPS→RANGE mapping.
    // c_custkey sums stay integral ⟹ exact doubles in any order.
    case class GF(part: Option[String], ord: String, func: String,
                  a: String, b: String, excl: String)
    val gen: Gen[GF] = for {
      part <- Gen.oneOf(Some("c_mktsegment"), Some("c_nationkey"), None)
      ord <- Gen.oneOf("floor(c_acctbal / 100)", "floor(c_acctbal / 1000)",
        "c_nationkey % 7")
      func <- Gen.oneOf("sum", "count", "avg", "min", "max")
      a <- Gen.oneOf("unbounded preceding", "3 preceding", "1 preceding",
        "current row")
      b <- Gen.oneOf("current row", "1 following", "2 following",
        "unbounded following")
      excl0 <- Gen.oneOf("", "", "", " exclude current row",
        " exclude group", " exclude ties")
    } yield GF(part, ord, func,
      a, b, if (func == "min" || func == "max") "" else excl0)
    val cases = Gen.listOfN(30, gen)
      .pureApply(Gen.Parameters.default, Seed(177L))
    cases.distinct.foreach { g =>
      val pPart = g.part.map(c => s"partition by $c ").getOrElse("")
      val arg = if (g.func == "count") "*" else "c_custkey"
      val groupsSql =
        s"""select c_custkey, ${g.func}($arg) over ($pPart
              order by ${g.ord}
              groups between ${g.a} and ${g.b}${g.excl}) as v
            from customer"""
      val rangeSql =
        s"""select c_custkey, ${g.func}($arg) over ($pPart order by __g
              range between ${g.a} and ${g.b}${g.excl}) as v
            from (select *, dense_rank() over ($pPart
                    order by ${g.ord}) as __g
                  from customer) t"""
      withClue(s"\nquery: $groupsSql\n") {
        if (g.excl.isEmpty)
          assertSameRows(graftSession.query(groupsSql), spark.sql(rangeSql))
        else
          assertSameRows(graftSession.query(groupsSql),
            graftSession.query(rangeSql))
      }
    }
  }
}
