package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import Ast._

/** Property tests: render random ASTs to SQL text, parse them back,
  * and require the same AST — precedence, associativity and keyword
  * handling can't silently drift. */
class ParserRoundTripSpec extends AnyFunSuite {

  private val genName: Gen[String] =
    Gen.oneOf("a", "b2", "col_x", "T1", "weird_name")

  private val genLiteral: Gen[Expr] = Gen.oneOf(
    Gen.choose(0, 9999).map(n => NumLit(n.toString)),
    Gen.choose(0.0, 100.0).map(d => NumLit(f"$d%.3f")),
    Gen.oneOf("x", "hello world", "O''Brien").map(StrLit),
    Gen.oneOf(true, false).map(BoolLit))

  private def genExpr(depth: Int): Gen[Expr] =
    if (depth <= 0) Gen.oneOf(genLiteral, genName.map(ColRef(None, _)))
    else Gen.frequency(
      3 -> genLiteral,
      3 -> genName.map(ColRef(None, _)),
      2 -> (for {
        op <- Gen.oneOf("+", "-", "*", "/", "%")
        l <- genExpr(depth - 1); r <- genExpr(depth - 1)
      } yield Arith(op, l, r)),
      1 -> (for {
        op <- Gen.oneOf("=", "<>", ">", "<", ">=", "<=")
        l <- genExpr(depth - 1); r <- genExpr(depth - 1)
      } yield Cmp(op, l, r)),
      1 -> (for { l <- genExpr(depth - 1); r <- genExpr(depth - 1) }
        yield And(l, r)),
      1 -> (for { l <- genExpr(depth - 1); r <- genExpr(depth - 1) }
        yield Or(l, r)),
      1 -> genExpr(depth - 1).map(e => Coalesce(Seq(e, NumLit("0")))),
      1 -> (for { e <- genExpr(depth - 1); t <- Gen.oneOf("int", "float64", "string") }
        yield Cast(e, t)))

  /** Renders with explicit parentheses everywhere — parsing must
    * reproduce the tree exactly. */
  private def render(e: Expr): String = e match {
    case ColRef(None, n) => n
    case ColRef(Some(q), n) => s"$q.$n"
    case NumLit(t) => t
    case StrLit(v) => "'" + v.replace("'", "''") + "'"
    case BoolLit(b) => b.toString
    case Arith(op, l, r) => s"(${render(l)} $op ${render(r)})"
    case Cmp(op, l, r) => s"(${render(l)} $op ${render(r)})"
    case And(l, r) => s"(${render(l)} and ${render(r)})"
    case Or(l, r) => s"(${render(l)} or ${render(r)})"
    case Coalesce(args) => s"coalesce(${args.map(render).mkString(", ")})"
    case Cast(x, t, sf) =>
      s"${if (sf) "try_cast" else "cast"}(${render(x)} as $t)"
    case other => throw new IllegalArgumentException(other.toString)
  }

  /** Strips the parens-only distinction: parsing "(a)" yields `a`. */
  private def parseBack(sql: String): Expr =
    new Parser(Lexer.tokenize(sql)).parseExpr()

  test("expression round-trip: parse(render(ast)) == ast (500 samples)") {
    val samples = Gen.listOfN(500, genExpr(4))
      .pureApply(Gen.Parameters.default, Seed(42L))
    samples.foreach { e =>
      val sql = render(e)
      assert(parseBack(sql) == e, s"\nsql: $sql")
    }
  }

  // ---- statements: generate an Ast.Statement, print it, parse it ----

  private val genTable: Gen[String] = Gen.oneOf("t", "src", "orders_2", "odd ) name")
  private val genPath: Gen[String] = Gen.oneOf("/tmp/x.parquet", "s3a://b/k it's", "d")

  private def id(n: String): String =
    if (n.matches("[a-z_][a-z0-9_]*")) n else "\"" + n + "\""
  private def str(v: String): String = "'" + v.replace("'", "''") + "'"

  private val genItems: Gen[Seq[SelectItem]] = for {
    n <- Gen.choose(1, 3)
    es <- Gen.listOfN(n, genExpr(2))
    as <- Gen.listOfN(n, genName)
  } yield es.zip(as).map { case (e, a) => SelectItem(e, Some(a)) }

  private val genQuery: Gen[SetExpr] = for {
    items <- genItems
    t <- genTable
    alias <- Gen.option(Gen.oneOf("x", "y"))
    where <- Gen.option(genExpr(2))
  } yield Leaf(Query(Select(false, items, TableRef(t, alias), where, Nil, None),
    Nil, None, None))

  /** An INSERT source: a query, or a VALUES list as the parser builds it. */
  private val genInsertSource: Gen[SetExpr] = Gen.oneOf(genQuery, for {
    width <- Gen.choose(1, 3)
    rows <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.listOfN(width, genExpr(1))))
  } yield Leaf(Query(Select(false, Seq(SelectItem(Star(None), None)),
    ValuesRel(rows, None, Some("__ins")), None, Nil, None), Nil, None, None)))

  private val genSource: Gen[Relation] = Gen.oneOf(
    for { t <- genTable; a <- Gen.option(Gen.oneOf("x", "y")) } yield TableRef(t, a),
    for { q <- genQuery; a <- Gen.oneOf("x", "y") } yield SubqueryRel(q, Some(a)))

  private val genAssignments: Gen[Seq[Assignment]] = for {
    n <- Gen.choose(1, 3)
    cs <- Gen.listOfN(n, for { q <- Gen.option(Gen.const("t")); c <- genName }
      yield ColRef(q, c))
    es <- Gen.listOfN(n, genExpr(2))
  } yield cs.zip(es).map { case (c, e) => Assignment(c, e) }

  private val genReturning: Gen[Seq[SelectItem]] = Gen.oneOf(Gen.const(Nil), genItems)

  private val genCols: Gen[Seq[String]] =
    Gen.choose(1, 3).flatMap(Gen.listOfN(_, Gen.oneOf("a", "b2", "a)b")))

  private val genClause: Gen[MergeClause] = for {
    kind <- Gen.oneOf(WhenMatched, WhenNotMatched, WhenNotMatchedBySource)
    cond <- Gen.option(genExpr(2))
    action <- kind match {
      case WhenNotMatched => Gen.oneOf(Gen.const(MergeInsertAll), for {
          cols <- genCols; vs <- Gen.listOfN(cols.length, genExpr(1))
        } yield MergeInsert(cols, vs))
      case _ => Gen.oneOf(Gen.const(MergeDelete), Gen.const(MergeUpdateAll),
        genAssignments.map(MergeUpdate))
    }
  } yield MergeClause(kind, cond, action)

  private val genOptions: Gen[Seq[CopyOption]] = Gen.someOf(
    CopyOption("format", Some("csv")), CopyOption("header", None),
    CopyOption("header", Some("false")), CopyOption("delimiter", Some("|"))).map(_.toSeq)

  private val genColumnDef: Gen[ColumnDef] = for {
    n <- genName; t <- Gen.oneOf("bigint", "double", "varchar", "decimal(10,2)")
  } yield ColumnDef(n, t)

  private val genStatement: Gen[Statement] = {
    import Statement._
    Gen.oneOf(
      genQuery.map(Statement.Query),
      genQuery.map(Explain),
      for { n <- genTable; r <- Gen.oneOf(true, false); q <- genQuery }
        yield CreateView(n, r, q),
      for { n <- genTable; r <- Gen.oneOf(true, false); q <- genQuery }
        yield CreateTableAs(n, r, q),
      for { n <- genTable; r <- Gen.oneOf(true, false)
            cs <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, genColumnDef)) }
        yield CreateTable(n, r, cs),
      for { n <- genTable; ie <- Gen.oneOf(true, false) } yield Drop(n, ie),
      genTable.map(Truncate),
      for { n <- genTable
            a <- Gen.oneOf(
              for { c <- genColumnDef; ie <- Gen.oneOf(true, false) }
                yield AddColumn(c, ie),
              for { c <- genName; ie <- Gen.oneOf(true, false) }
                yield DropColumn(c, ie),
              for { f <- genName; t <- genName } yield RenameColumn(f, t),
              genTable.map(RenameTable)) }
        yield Alter(n, a),
      for { n <- genTable; cs <- Gen.option(genCols); src <- genInsertSource
            oc <- Gen.option(for { ks <- Gen.option(genCols)
                                   set <- Gen.option(genAssignments) }
              yield OnConflict(ks, set))
            ret <- genReturning }
        yield Insert(n, cs, src, oc, ret),
      for { n <- genTable; a <- Gen.option(Gen.const("x")); set <- genAssignments
            from <- Gen.option(genSource); w <- Gen.option(genExpr(2))
            ret <- genReturning }
        yield Update(n, a, set, from, w, ret),
      for { n <- genTable; a <- Gen.option(Gen.const("x"))
            using <- Gen.option(genSource); w <- genExpr(2); ret <- genReturning }
        yield Delete(n, a, using, w, ret),
      for { n <- genTable; a <- Gen.option(Gen.const("x")); src <- genSource
            on <- genExpr(2)
            cls <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, genClause)) }
        yield Merge(n, a, src, on, cls),
      for { src <- Gen.either(genTable, genQuery); p <- genPath; o <- genOptions }
        yield CopyTo(src, p, o),
      for { n <- genTable; p <- genPath; o <- genOptions } yield CopyFrom(n, p, o),
      for { p <- genPath; o <- genOptions } yield ExportDatabase(p, o),
      for { p <- genPath; o <- genOptions } yield ImportDatabase(p, o),
      for { n <- genName; q <- genQuery } yield Prepare(n, print(Statement.Query(q))),
      for { n <- genName; as <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, genExpr(2))) }
        yield Execute(n, as.map(render)),
      genName.map(Deallocate),
      for { n <- genName; r <- Gen.oneOf(true, false)
            ps <- Gen.choose(0, 3).flatMap(k => Gen.listOfN(k, genName))
            ds <- Gen.listOfN(ps.length, Gen.option(genExpr(1)))
            body <- Gen.either(genExpr(2), genQuery) }
        yield CreateMacro(n, r, ps.zip(ds).map { case (p, d) => MacroParam(p, d) }, body),
      for { n <- genName; ie <- Gen.oneOf(true, false) } yield DropMacro(n, ie),
      genTable.map(Describe),
      Gen.const(ShowTables),
      for { k <- Gen.oneOf("spark.sql.shuffle.partitions", "x"); v <- genPath }
        yield SetConf(k, v),
      Gen.oneOf("spark.sql.shuffle.partitions", "x").map(Reset),
      Gen.either(genTable, genQuery).map(Summarize))
  }

  private def printItems(items: Seq[SelectItem]): String = items.map {
    case SelectItem(e, Some(a)) => s"${render(e)} as ${id(a)}"
    case SelectItem(e, None)    => render(e)
  }.mkString(", ")

  private def printQuery(q: SetExpr): String = q match {
    case Leaf(Query(Select(false, Seq(SelectItem(Star(None), None)),
        ValuesRel(rows, None, Some("__ins")), None, Nil, None, _, _, _, _, _),
        Nil, None, None, _)) =>
      "values " + rows.map(_.map(render).mkString("(", ", ", ")")).mkString(", ")
    case Leaf(Query(sel, Nil, None, None, _)) =>
      val TableRef(t, alias) = sel.from: @unchecked
      s"select ${printItems(sel.items)} from ${id(t)}" +
        alias.fold("")(a => s" as $a") + sel.where.fold("")(w => s" where ${render(w)}")
    case other => throw new IllegalArgumentException(other.toString)
  }

  private def printSource(r: Relation): String = r match {
    case TableRef(t, a)    => id(t) + a.fold("")(" " + _)
    case SubqueryRel(q, a) => s"(${printQuery(q)})" + a.fold("")(" as " + _)
    case other => throw new IllegalArgumentException(other.toString)
  }

  private def printSet(set: Seq[Assignment]): String = set.map {
    case Assignment(ColRef(q, c), e) => q.fold("")(_ + ".") + id(c) + " = " + render(e)
  }.mkString(", ")

  private def printReturning(items: Seq[SelectItem]): String =
    if (items.isEmpty) "" else " returning " + printItems(items)

  private def printOptions(os: Seq[CopyOption]): String =
    if (os.isEmpty) ""
    else os.map(o => o.name + o.value.fold("")(v => " " + str(v))).mkString(" (", ", ", ")")

  private def ifExists(b: Boolean) = if (b) "if exists " else ""
  private def orReplace(b: Boolean) = if (b) "or replace " else ""

  private def print(st: Statement): String = {
    import Statement._
    st match {
      case Statement.Query(q) => printQuery(q)
      case Explain(q) => "explain " + printQuery(q)
      case CreateView(n, r, q) => s"create ${orReplace(r)}view ${id(n)} as ${printQuery(q)}"
      case CreateTableAs(n, r, q) =>
        s"create ${orReplace(r)}table ${id(n)} as ${printQuery(q)}"
      case CreateTable(n, r, cs) => s"create ${orReplace(r)}table ${id(n)} " +
        cs.map(c => s"${id(c.name)} ${c.typeName}").mkString("(", ", ", ")")
      case Drop(n, ie) => s"drop table ${ifExists(ie)}${id(n)}"
      case Truncate(n) => s"truncate table ${id(n)}"
      case Alter(n, a) => s"alter table ${id(n)} " + (a match {
        case AddColumn(c, ine)  =>
          s"add column ${if (ine) "if not exists " else ""}${id(c.name)} ${c.typeName}"
        case DropColumn(c, ie)  => s"drop column ${ifExists(ie)}${id(c)}"
        case RenameColumn(f, t) => s"rename column ${id(f)} to ${id(t)}"
        case RenameTable(t)     => s"rename to ${id(t)}"
      })
      case Insert(n, cs, src, oc, ret) =>
        s"insert into ${id(n)} " + cs.fold("")(_.map(id).mkString("(", ", ", ") ")) +
          printQuery(src) + oc.fold("") { case OnConflict(ks, set) =>
            " on conflict " + ks.fold("")(_.map(id).mkString("(", ", ", ") ")) +
              set.fold("do nothing")(s => "do update set " + printSet(s))
          } + printReturning(ret)
      case Update(n, a, set, from, w, ret) =>
        s"update ${id(n)}" + a.fold("")(" as " + _) + " set " + printSet(set) +
          from.fold("")(f => " from " + printSource(f)) +
          w.fold("")(e => " where " + render(e)) + printReturning(ret)
      case Delete(n, a, using, w, ret) =>
        s"delete from ${id(n)}" + a.fold("")(" " + _) +
          using.fold("")(u => " using " + printSource(u)) +
          " where " + render(w) + printReturning(ret)
      case Merge(n, a, src, on, cls) =>
        s"merge into ${id(n)}" + a.fold("")(" as " + _) + " using " + printSource(src) +
          " on " + render(on) + cls.map { cl =>
            val kind = cl.kind match {
              case WhenMatched            => "matched"
              case WhenNotMatched         => "not matched by target"
              case WhenNotMatchedBySource => "not matched by source"
            }
            s" when $kind" + cl.cond.fold("")(c => " and " + render(c)) + " then " +
              (cl.action match {
                case MergeDelete       => "delete"
                case MergeUpdateAll    => "update set *"
                case MergeUpdate(set)  => "update set " + printSet(set)
                case MergeInsertAll    => "insert *"
                case MergeInsert(cs, vs) => cs.map(id).mkString("insert (", ", ", ")") +
                  vs.map(render).mkString(" values (", ", ", ")")
              })
          }.mkString
      case CopyTo(src, p, o) =>
        "copy " + src.fold(id, q => s"(${printQuery(q)})") + s" to ${str(p)}" +
          printOptions(o)
      case CopyFrom(n, p, o) => s"copy ${id(n)} from ${str(p)}" + printOptions(o)
      case ExportDatabase(p, o) => s"export database ${str(p)}" + printOptions(o)
      case ImportDatabase(p, o) => s"import database ${str(p)}" + printOptions(o)
      case Prepare(n, body) => s"prepare ${id(n)} as $body"
      case Execute(n, args) =>
        s"execute ${id(n)}" + (if (args.isEmpty) "" else args.mkString("(", ", ", ")"))
      case Deallocate(n) => s"deallocate prepare ${id(n)}"
      case CreateMacro(n, r, ps, body) =>
        s"create ${orReplace(r)}macro ${id(n)}" + ps.map(p =>
          id(p.name) + p.default.fold("")(d => " := " + render(d))).mkString("(", ", ", ")") +
          " as " + body.fold(render, q => "table " + printQuery(q))
      case DropMacro(n, ie) => s"drop macro ${ifExists(ie)}${id(n)}"
      case Describe(n) => s"describe ${id(n)}"
      case ShowTables => "show tables"
      case SetConf(k, v) => s"set $k = ${str(v)}"
      case Reset(k) => s"reset $k"
      case Summarize(src) => "summarize " + src.fold(id, printQuery)
    }
  }

  test("statement round-trip: parseStatement(print(stmt)) == stmt (600 samples)") {
    val samples = Gen.listOfN(600, genStatement)
      .pureApply(Gen.Parameters.default, Seed(7L))
    samples.foreach { st =>
      val sql = print(st)
      assert(Parser.parseStatement(sql) == st, s"\nsql: $sql")
    }
    // every Statement case, the MERGE clause matrix, ON CONFLICT and
    // RETURNING are among the samples
    val kinds = samples.map(_.getClass.getSimpleName).toSet
    assert(kinds.size == 26, kinds)
    val merges = samples.collect { case m: Statement.Merge => m.clauses }.flatten
    assert(merges.map(c => (c.kind, c.action.getClass)).distinct.size == 8)
    assert(samples.exists {
      case i: Statement.Insert => i.onConflict.exists(_.set.isEmpty)
      case _ => false
    } && samples.exists {
      case i: Statement.Insert => i.onConflict.exists(_.set.nonEmpty)
      case _ => false
    })
    assert(samples.count {
      case Statement.Insert(_, _, _, _, r) => r.nonEmpty
      case Statement.Update(_, _, _, _, _, r) => r.nonEmpty
      case Statement.Delete(_, _, _, _, r) => r.nonEmpty
      case _ => false
    } > 10)
  }

  test("a script parses to its statements; empty statements are skipped") {
    assert(Parser.parseScript("; select a from t;; -- c\n drop table t ;") ==
      Seq(Statement.Query(Parser.parse("select a from t")), Statement.Drop("t", false)))
  }

  test("escaped quotes in string literals round-trip") {
    assert(parseBack("'O''Brien'") == StrLit("O'Brien"))
  }

  test("r7b syntax parses to the expected shapes") {
    // GROUPS frame mode
    val q = Parser.parse(
      """select sum(b) over (partition by a order by b
           groups between 2 preceding and 1 following exclude ties) as s
         from t""")
    val w = q.asInstanceOf[Leaf].q.sel.items.head.e
      .asInstanceOf[AggExpr].window.get
    assert(w.frame == Some(Frame(isRows = false, Preceding(2),
      Following(1), isGroups = true)), w.toString)
    assert(w.exclude == "ties")
    // lambdas: element, indexed, multi-param; only in argument position
    val q2 = Parser.parse(
      "select transform(xs, x -> x + 1) as t, " +
        "aggregate(xs, 0, (acc, v) -> acc + v) as s from t")
    val items = q2.asInstanceOf[Leaf].q.sel.items
    assert(items.head.e == FuncCall("transform", Seq(ColRef(None, "xs"),
      Lambda(Seq("x"), Arith("+", ColRef(None, "x"), NumLit("1"))))))
    assert(items(1).e.asInstanceOf[FuncCall].args(2) ==
      Lambda(Seq("acc", "v"), Arith("+", ColRef(None, "acc"),
        ColRef(None, "v"))))
    // a parenthesized expression is NOT a lambda
    val q3 = Parser.parse("select coalesce((a), b) as c from t")
    assert(q3.asInstanceOf[Leaf].q.sel.items.head.e ==
      Coalesce(Seq(ColRef(None, "a"), ColRef(None, "b"))))
    // ASOF [LEFT] JOIN
    val q4 = Parser.parse(
      "select 1 as one from a asof left join b on a.k = b.k and a.t >= b.t")
    val rel = q4.asInstanceOf[Leaf].q.sel.from.asInstanceOf[AsofJoinRel]
    assert(rel.leftOuter)
    assert(rel.on == And(Cmp("=", ColRef(Some("a"), "k"), ColRef(Some("b"), "k")),
      Cmp(">=", ColRef(Some("a"), "t"), ColRef(Some("b"), "t"))))
  }

  test("round-2 syntax parses to the expected shapes") {
    // CTE + USING + rollup + ilike + not-like + scalar subquery
    val q = Parser.parse(
      """with c as (select a from t1)
         select a, (select max(b2) from t2) as m
         from c join t2 using (a)
         where a not like 'x%' and b2 ilike 'Y%'
         group by rollup(a, b2)""")
    val WithQuery(ctes, Leaf(body), _, _) = q: @unchecked
    assert(ctes.map(_._1) == Seq("c"))
    assert(body.sel.groupMode == "rollup" && body.sel.groupBy.length == 2)
    assert(body.sel.from.isInstanceOf[UsingJoinRel])
    assert(body.sel.items.exists(_.e.isInstanceOf[ScalarSubquery]))
    val w = body.sel.where.get
    assert(w == And(Not(Like(ColRef(None, "a"), "x%")),
                    ILike(ColRef(None, "b2"), "Y%")))
  }

  test("round-4 syntax parses to the expected shapes") {
    // named WINDOW definitions + OVER name references
    val q = Parser.parse(
      """select a, rank() over w as rk, sum(b) over w2 as sb
         from t
         window w as (partition by a order by b desc nulls last),
                w2 as (partition by a order by b rows 2 preceding)""")
    val sel = q.asInstanceOf[Leaf].q.sel
    assert(sel.windows.map(_._1) == Seq("w", "w2"), sel.windows.toString)
    val w1 = sel.windows.head._2
    assert(w1.partitionBy == Seq(ColRef(None, "a")) &&
      w1.orderBy == Seq(OrderItem(ColRef(None, "b"), asc = false,
        nullsFirst = Some(false))), w1.toString)
    // bare "2 preceding" frame: start bound + implicit CURRENT ROW end
    assert(sel.windows(1)._2.frame ==
      Some(Frame(isRows = true, Preceding(2), CurrentRow)))
    sel.items.collect { case SelectItem(RankExpr(_, w), _) =>
      assert(w.ref.contains("w"))
    }
    // empty reference-parity definition
    val q2 = Parser.parse("select a from t window w as ()")
    assert(q2.asInstanceOf[Leaf].q.sel.windows ==
      Seq("w" -> WindowSpec(Nil, Nil, None)))
    // grouping sets dedup the flattened union case-insensitively
    val q3 = Parser.parse(
      "select a, b, count(*) as n from t group by grouping sets ((a, b), (A))")
    assert(q3.asInstanceOf[Leaf].q.sel.groupBy ==
      Seq(ColRef(None, "a"), ColRef(None, "b")), q3.toString)
  }

  test("full query round-trip for a representative query") {
    val sql = """select a, (b2 + 3) as c from t1
                 where (a > 1 and b2 < 2) or a = 5
                 group by a, b2 having count(a) > 1
                 order by a desc limit 7 offset 2"""
    val q = Parser.parse(sql)
    val Leaf(query) = q: @unchecked
    assert(query.limit.contains(7L) && query.offset.contains(2L))
    assert(query.sel.groupBy.length == 2)
    assert(query.orderBy.head.asc == false)
  }
}
