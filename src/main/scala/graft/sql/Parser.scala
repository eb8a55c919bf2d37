package graft.sql

import Ast._
import Lexer._

/** Recursive-descent parser producing the graft AST.
  *
  * Implements the query language of the reference grammar
  * (/root/reference/sql_to_ibis/grammar/sql.lark): set-exprs over
  * query-exprs (each with its own ORDER BY / LIMIT / OFFSET), SELECT
  * with joins, subqueries, boolean and arithmetic expressions with
  * standard precedence, CASE/CAST/COALESCE, aggregates and windows.
  */
final class Parser(tokens: Vector[Token], src: String = "") {
  private var pos = 0

  // a failed token read may have stepped past End
  private def peek: Token = tokens(math.min(pos, tokens.length - 1))
  private def next(): Token = { val t = tokens(pos); pos += 1; t }

  private def fail(msg: String): Nothing = throw Parser.ParseException(msg, peek)

  private val reserved = Set(
    "select", "from", "where", "group", "having", "order", "limit",
    "offset", "union", "intersect", "except", "on", "inner", "left",
    "right", "full", "outer", "cross", "join", "as", "and", "or", "not",
    "when", "then", "else", "end", "asc", "desc", "by", "all",
    "distinct", "case", "cast", "between", "in", "is", "null", "like",
    "over", "partition", "rows", "range", "preceding", "following",
    "unbounded", "current", "row", "using", "window", "with", "qualify",
    "natural", "semi", "anti", "pivot", "unpivot", "fetch", "lateral",
    "asof")

  private def isKw(t: Token, kw: String): Boolean = t match {
    case Ident(v, _) => v.equalsIgnoreCase(kw)
    case _ => false
  }
  private def atKw(kw: String): Boolean = isKw(peek, kw)
  private def eatKw(kw: String): Boolean =
    if (atKw(kw)) { pos += 1; true } else false
  private def expectKw(kw: String): Unit =
    if (!eatKw(kw)) fail(s"expected $kw")
  private def atOp(op: String): Boolean = peek match {
    case Op(v, _) => v == op
    case _ => false
  }
  private def eatOp(op: String): Boolean =
    if (atOp(op)) { pos += 1; true } else false
  private def expectOp(op: String): Unit =
    if (!eatOp(op)) fail(s"expected '$op'")
  private def ident(): String = peek match {
    case Ident(v, _) => pos += 1; v
    case t => fail(s"expected identifier, got $t")
  }

  // ---- entry --------------------------------------------------------
  def parse(): SetExpr = { val e = parseQuery(); expectEnd(); e }

  private def expectEnd(): Unit = peek match {
    case End(_) => ()
    case t => fail(s"trailing input at $t")
  }

  private def parseQuery(): SetExpr = {
    // WITH name AS (query) [, ...] body — graft extension beyond the
    // reference grammar (which has no CTEs); names are visible to
    // later CTEs and the body
    if (eatKw("with")) {
      // WITH RECURSIVE (r5): self-referencing `base UNION [ALL] step`
      // CTEs iterate to a fixpoint at translation
      val recursive = eatKw("recursive")
      val ctes = Seq.newBuilder[(String, SetExpr)]
      val cols = Seq.newBuilder[Option[Seq[String]]]
      var more = true
      while (more) {
        val name = ident()
        // optional column list: r(x, y) AS (...)
        val cs =
          if (eatOp("(")) {
            val b = Seq.newBuilder[String]
            var m = true
            while (m) { b += ident(); m = eatOp(",") }
            expectOp(")")
            Some(b.result())
          } else None
        expectKw("as")
        expectOp("(")
        val sub = parseSetExpr()
        expectOp(")")
        ctes += (name -> sub)
        cols += cs
        more = eatOp(",")
      }
      WithQuery(ctes.result(), parseSetExpr(), recursive, cols.result())
    } else parseSetExpr()
  }

  // ---- statements ---------------------------------------------------
  // One statement per call, dispatched on its first keyword; anything
  // else parses as a query. A statement ends at `;` or the end of input.

  /** Words that end a clause inside a statement, so they never read as
    * an implicit alias (`insert into t select a from s returning a`). */
  private var clauseWords = Set.empty[String]

  /** A single statement; one final `;` may follow. */
  def statement(): Ast.Statement = {
    val st = parseStatement()
    if (atOp(";") && isEndAt(pos + 1)) pos += 1
    expectEnd()
    st
  }

  /** Statements separated by `;`; empty statements are skipped. */
  def script(): Seq[Ast.Statement] = {
    val out = Seq.newBuilder[Ast.Statement]
    while (!isEndAt(pos)) {
      if (!eatOp(";")) {
        out += parseStatement()
        if (!isEndAt(pos) && !atOp(";")) fail(s"trailing input at $peek")
      }
    }
    out.result()
  }

  private def isEndAt(p: Int): Boolean = tokens(p).isInstanceOf[End]
  private def atStmtEnd: Boolean = isEndAt(pos) || atOp(";")

  private def commaList[A](item: => A): Seq[A] = {
    val b = Seq.newBuilder[A]
    b += item
    while (eatOp(",")) b += item
    b.result()
  }

  private def parenIdents(): Seq[String] = {
    expectOp("("); val cs = commaList(ident()); expectOp(")"); cs
  }

  private def ifExists(): Boolean =
    if (eatKw("if")) { expectKw("exists"); true } else false

  private def parseStatement(): Ast.Statement = {
    import Ast.{Statement => S}
    clauseWords = Set.empty
    val head = peek match {
      case Ident(v, _) => v.toLowerCase
      case _ => ""
    }
    head match {
      case "create" => pos += 1; parseCreate()
      case "drop" =>
        pos += 1
        if (eatKw("macro")) { val ie = ifExists(); S.DropMacro(ident(), ie) }
        else {
          if (!eatKw("view")) expectKw("table")
          val ie = ifExists()
          S.Drop(ident(), ie)
        }
      case "truncate" => pos += 1; eatKw("table"); S.Truncate(ident())
      case "alter" => pos += 1; expectKw("table"); parseAlter(ident())
      case "insert" | "update" | "delete" =>
        clauseWords = Set("returning")
        pos += 1
        if (head == "insert") parseInsert()
        else if (head == "update") parseUpdate()
        else parseDelete()
      case "merge" => pos += 1; parseMerge()
      case "copy" => pos += 1; parseCopy()
      case "export" | "import" =>
        pos += 1; expectKw("database")
        val dir = parsePath()
        if (head == "export") S.ExportDatabase(dir, parseCopyOptions())
        else S.ImportDatabase(dir, parseCopyOptions())
      case "prepare" =>
        pos += 1
        val name = ident(); expectKw("as")
        // the body's token text up to the statement's end
        val start = pos
        var depth = 0
        while (!isEndAt(pos) && !(depth == 0 && atOp(";"))) {
          if (atOp("(")) depth += 1 else if (atOp(")")) depth -= 1
          pos += 1
        }
        if (pos == start) fail("PREPARE requires a statement body")
        S.Prepare(name, src.substring(tokens(start).pos, tokens(pos - 1).end))
      case "execute" =>
        pos += 1
        val name = ident()
        val args =
          if (!eatOp("(")) Nil
          else if (eatOp(")")) Nil
          else {
            val as = commaList {
              val start = pos
              parseExpr()
              src.substring(tokens(start).pos, tokens(pos - 1).end)
            }
            expectOp(")"); as
          }
        S.Execute(name, args)
      case "deallocate" => pos += 1; eatKw("prepare"); S.Deallocate(ident())
      case "describe" | "desc" => pos += 1; eatKw("table"); S.Describe(ident())
      case "show" => pos += 1; expectKw("tables"); S.ShowTables
      case "set" =>
        pos += 1
        if (atKw("session") && !isOpAt(pos + 1, "=") && !isKwAt(pos + 1, "to"))
          pos += 1
        val key = confKey()
        if (!eatOp("=")) expectKw("to")
        if (atStmtEnd) fail("SET requires a value")
        val value = peek match {
          case Str(v, _) if isEndAt(pos + 1) || isOpAt(pos + 1, ";") => pos += 1; v
          case _ =>
            val start = pos
            while (!atStmtEnd) pos += 1
            src.substring(tokens(start).pos, tokens(pos - 1).end)
        }
        S.SetConf(key, value)
      case "reset" => pos += 1; S.Reset(confKey())
      case "summarize" =>
        pos += 1
        S.Summarize(if (atKw("select") || atKw("with")) Right(parseQuery())
                    else Left(ident()))
      case "explain" => pos += 1; S.Explain(parseQuery())
      case _ => S.Query(parseQuery())
    }
  }

  /** A dotted configuration key: `spark.sql.shuffle.partitions`. */
  private def confKey(): String = {
    val parts = Seq.newBuilder[String]
    parts += ident()
    while (eatOp(".")) parts += ident()
    parts.result().mkString(".")
  }

  private def parseCreate(): Ast.Statement = {
    import Ast.{Statement => S}
    val orReplace = if (eatKw("or")) { expectKw("replace"); true } else false
    val temp = eatKw("temp") || eatKw("temporary")
    if (temp || atKw("view")) {
      expectKw("view")
      val name = ident(); expectKw("as")
      S.CreateView(name, orReplace, parseQuery())
    } else if (eatKw("table")) {
      val name = ident()
      if (eatKw("as")) S.CreateTableAs(name, orReplace, parseQuery())
      else {
        expectOp("(")
        val cols = commaList(parseColumnDef())
        expectOp(")")
        S.CreateTable(name, orReplace, cols)
      }
    } else if (eatKw("macro")) {
      val name = ident()
      expectOp("(")
      val params =
        if (atOp(")")) Nil
        else commaList {
          val p = ident()
          MacroParam(p, if (eatOp(":")) { expectOp("="); Some(parseExpr()) } else None)
        }
      expectOp(")")
      expectKw("as")
      S.CreateMacro(name, orReplace, params,
        if (eatKw("table")) Right(parseQuery()) else Left(parseExpr()))
    } else fail("expected VIEW, TABLE or MACRO after CREATE")
  }

  private def parseColumnDef(): ColumnDef = {
    val name = ident()
    if (atOp(",") || atOp(")") || atStmtEnd)
      fail("column definition must be 'name type'")
    ColumnDef(name, parseTypeName())
  }

  private def parseAlter(table: String): Ast.Statement = {
    val action =
      if (eatKw("add")) {
        eatKw("column")
        val ifNotExists = eatKw("if")
        if (ifNotExists) { expectKw("not"); expectKw("exists") }
        AddColumn(parseColumnDef(), ifNotExists)
      } else if (eatKw("drop")) {
        eatKw("column")
        val ie = ifExists()
        DropColumn(ident(), ie)
      } else if (eatKw("rename")) {
        if (eatKw("to")) RenameTable(ident())
        else {
          eatKw("column")
          val from = ident(); expectKw("to")
          RenameColumn(from, ident())
        }
      } else fail("ALTER TABLE supports ADD/DROP/RENAME COLUMN and RENAME TO")
    Ast.Statement.Alter(table, action)
  }

  private def parseInsert(): Ast.Statement = {
    expectKw("into")
    val table = ident()
    val cols = if (atOp("(")) Some(parenIdents()) else None
    val source =
      if (eatKw("values")) {
        val rows = commaList {
          expectOp("("); val row = commaList(parseExpr()); expectOp(")"); row
        }
        Leaf(Query(Select(false, Seq(SelectItem(Star(None), None)),
          ValuesRel(rows, None, Some("__ins")), None, Nil, None), Nil, None, None))
      } else parseQuery()
    val onConflict =
      if (eatKw("on")) {
        expectKw("conflict")
        val keys = if (atOp("(")) Some(parenIdents()) else None
        expectKw("do")
        Some(OnConflict(keys,
          if (eatKw("nothing")) None
          else { expectKw("update"); expectKw("set"); Some(parseAssignments()) }))
      } else None
    Ast.Statement.Insert(table, cols, source, onConflict, parseReturning())
  }

  private def parseUpdate(): Ast.Statement = {
    val table = ident()
    val alias =
      if (eatKw("as")) Some(ident()) else if (atKw("set")) None else Some(ident())
    expectKw("set")
    val set = parseAssignments()
    val from = if (eatKw("from")) Some(parseSource()) else None
    val where = if (eatKw("where")) Some(parseExpr()) else None
    Ast.Statement.Update(table, alias, set, from, where, parseReturning())
  }

  private def parseDelete(): Ast.Statement = {
    expectKw("from")
    val table = ident()
    val alias = parseOptionalAlias()
    val using = if (eatKw("using")) Some(parseSource()) else None
    expectKw("where")
    val where = parseExpr()
    Ast.Statement.Delete(table, alias, using, where, parseReturning())
  }

  /** The source of UPDATE ... FROM, DELETE ... USING and MERGE ...
    * USING: a table or a parenthesized query, optionally aliased. */
  private def parseSource(): Relation =
    if (eatOp("(")) {
      val q = parseQuery(); expectOp(")")
      SubqueryRel(q, parseOptionalAlias())
    } else TableRef(ident(), parseOptionalAlias())

  private def parseAssignments(): Seq[Assignment] = commaList {
    val first = ident()
    val col = if (eatOp(".")) ColRef(Some(first), ident()) else ColRef(None, first)
    expectOp("=")
    Assignment(col, parseExpr())
  }

  private def parseReturning(): Seq[SelectItem] =
    if (!eatKw("returning")) Nil
    else if (atStmtEnd) fail("RETURNING requires at least one expression")
    else commaList(parseSelectItem())

  private def parseMerge(): Ast.Statement = {
    expectKw("into")
    val table = ident()
    val alias = parseOptionalAlias()
    expectKw("using")
    val source = parseSource()
    expectKw("on")
    val on = parseExpr()
    val clauses = Seq.newBuilder[MergeClause]
    while (eatKw("when")) {
      val kind =
        if (eatKw("matched")) {
          if (atKw("by")) fail("WHEN MATCHED BY is not a MERGE form " +
            "(BY SOURCE/TARGET qualify NOT MATCHED)")
          WhenMatched
        } else {
          expectKw("not"); expectKw("matched")
          if (!eatKw("by")) WhenNotMatched
          else if (eatKw("source")) WhenNotMatchedBySource
          else { expectKw("target"); WhenNotMatched }
        }
      val cond = if (eatKw("and")) Some(parseExpr()) else None
      expectKw("then")
      val action =
        if (eatKw("delete")) MergeDelete
        else if (eatKw("update")) {
          expectKw("set")
          if (eatOp("*")) MergeUpdateAll else MergeUpdate(parseAssignments())
        } else if (eatKw("insert")) {
          if (eatOp("*")) MergeInsertAll
          else {
            val cols = parenIdents()
            expectKw("values"); expectOp("(")
            val values = commaList(parseExpr())
            expectOp(")")
            if (cols.length != values.length)
              fail("MERGE INSERT: column/value count mismatch")
            MergeInsert(cols, values)
          }
        } else fail("MERGE actions are DELETE, UPDATE SET and INSERT")
      clauses += MergeClause(kind, cond, action)
    }
    val cs = clauses.result()
    if (cs.isEmpty) fail("MERGE requires at least one WHEN clause")
    Ast.Statement.Merge(table, alias, source, on, cs)
  }

  private def parseCopy(): Ast.Statement = {
    import Ast.{Statement => S}
    if (eatOp("(")) {
      val q = parseQuery(); expectOp(")")
      if (!eatKw("to"))
        fail("COPY (query) must be followed by TO 'path' [(options)]")
      S.CopyTo(Right(q), parsePath(), parseCopyOptions())
    } else {
      val table = ident()
      if (eatKw("to")) S.CopyTo(Left(table), parsePath(), parseCopyOptions())
      else {
        expectKw("from")
        S.CopyFrom(table, parsePath(), parseCopyOptions())
      }
    }
  }

  private def parsePath(): String = peek match {
    case Str(v, _) => pos += 1; v
    case _ => fail("expected a quoted path")
  }

  private def parseCopyOptions(): Seq[CopyOption] =
    if (!eatOp("(")) Nil
    else {
      val os = commaList {
        val name = ident().toLowerCase
        CopyOption(name, peek match {
          case Ident(v, _) => pos += 1; Some(v)
          case Str(v, _)   => pos += 1; Some(v)
          case Num(v, _)   => pos += 1; Some(v)
          case _           => None
        })
      }
      expectOp(")"); os
    }

  /** sql.lark:3-8 — left-associative UNION/INTERSECT/EXCEPT [ALL]. */
  private def parseSetExpr(): SetExpr = {
    var left: SetExpr = Leaf(parseQueryExpr())
    var continue = true
    var combined = false
    // set-op branches parse WITHOUT the order/limit tail: in SQL (and
    // Spark/DuckDB) a trailing ORDER BY / LIMIT after a set op applies
    // to the whole combined result, not the last branch
    def branch(): SetExpr = Leaf(Query(parseSelect(), Nil, None, None))
    // the first branch parses with the tail (it may be the whole
    // query); if a set operator follows, a consumed ORDER BY/LIMIT
    // was illegally placed before it — reject like Spark/DuckDB do
    def checkFirstBranch(): Unit = left match {
      case Leaf(q) if q.orderBy.nonEmpty || q.limit.nonEmpty || q.offset.nonEmpty =>
        fail("ORDER BY / LIMIT must follow the last branch of a set operation")
      case _ => ()
    }
    while (continue) {
      if (atKw("union")) {
        checkFirstBranch()
        pos += 1
        val all = eatKw("all"); if (!all) eatKw("distinct")
        // UNION [ALL] BY NAME (r5b, DuckDB): match columns by NAME
        // rather than position; either side's missing columns read
        // NULL on the other
        val byName = if (eatKw("by")) { expectKw("name"); true } else false
        val op = (all, byName) match {
          case (true, true)   => "union_all_byname"
          case (false, true)  => "union_byname"
          case (true, false)  => "union_all"
          case (false, false) => "union"
        }
        left = SetOp(op, left, branch())
        combined = true
      } else if (atKw("intersect")) {
        checkFirstBranch()
        pos += 1
        val all = eatKw("all"); if (!all) eatKw("distinct")
        left = SetOp(if (all) "intersect_all" else "intersect", left, branch())
        combined = true
      } else if (atKw("except")) {
        checkFirstBranch()
        pos += 1
        val all = eatKw("all"); if (!all) eatKw("distinct")
        left = SetOp(if (all) "except_all" else "except", left, branch())
        combined = true
      } else continue = false
    }
    if (combined) {
      val orderBy =
        if (eatKw("order")) { expectKw("by"); parseOrderList() } else Nil
      val (limit, offset, ties) = parseLimitClause()
      if (orderBy.nonEmpty || limit.nonEmpty || offset.nonEmpty)
        OrderedSet(left, orderBy, limit, offset, ties)
      else left
    } else left
  }

  /** sql.lark:10 — select [ORDER BY ...] [LIMIT n [OFFSET m]]. */
  private def parseQueryExpr(): Query = {
    val sel = parseSelect()
    val orderBy =
      if (eatKw("order")) { expectKw("by"); parseOrderList() } else Nil
    val (limit, offset, ties) = parseLimitClause()
    Query(sel, orderBy, limit, offset, ties)
  }

  /** `LIMIT n [OFFSET m]`, plus the standard forms (r5):
    * `OFFSET m [ROW|ROWS]` and `FETCH {FIRST|NEXT} [n] {ROW|ROWS}
    * {ONLY | WITH TIES}`. Returns (limit, offset, withTies). */
  private def parseLimitClause(): (Option[Long], Option[Long], Boolean) = {
    var limit: Option[Long] = None
    var offset: Option[Long] = None
    var ties = false
    if (eatKw("limit")) {
      limit = Some(parseIntLit())
      if (eatKw("offset")) offset = Some(parseIntLit())
    } else {
      if (eatKw("offset")) {
        offset = Some(parseIntLit())
        if (!eatKw("rows")) eatKw("row")
      }
      if (eatKw("fetch")) {
        if (!eatKw("first")) expectKw("next")
        limit = Some(peek match {
          case Num(_, _) => parseIntLit()
          case _ => 1L // FETCH FIRST ROW ONLY
        })
        if (!eatKw("rows")) eatKw("row")
        if (!eatKw("only")) {
          expectKw("with"); expectKw("ties")
          ties = true
        }
      }
    }
    (limit, offset, ties)
  }

  private def parseIntLit(): Long = peek match {
    case Num(v, _) => pos += 1; v.toLong
    case t => fail(s"expected integer, got $t")
  }

  /** True when the token AFTER an `all` keyword shows it ends the
    * clause (DuckDB-style GROUP BY ALL / ORDER BY ALL) rather than
    * starting an expression over a column named `all`. */
  private def allEndsClause(after: Int): Boolean =
    after >= tokens.length || (tokens(after) match {
      case End(_)   => true
      case Op(v, _) => v == ")"
      case t => Seq("having", "order", "limit", "offset", "qualify",
        "window", "union", "intersect", "except", "asc", "desc",
        "nulls").exists(isKw(t, _))
    })

  private def parseOrderList(): Seq[OrderItem] = {
    // ORDER BY ALL — every output column, left to right (DuckDB
    // convenience; graft dialect extension). Parsed as a Star order
    // key the translator expands against the final projection, so
    // `SELECT *` works too.
    if (atKw("all") && allEndsClause(pos + 1)) {
      pos += 1
      val asc = if (eatKw("desc")) false else { eatKw("asc"); true }
      val nullsFirst =
        if (eatKw("nulls")) {
          if (eatKw("first")) Some(true)
          else if (eatKw("last")) Some(false)
          else fail("expected FIRST or LAST after NULLS")
        } else None
      return Seq(OrderItem(Star(None), asc, nullsFirst))
    }
    val items = Seq.newBuilder[OrderItem]
    var more = true
    while (more) {
      val e = parseExpr()
      val asc = if (eatKw("desc")) false else { eatKw("asc"); true }
      // NULLS FIRST | NULLS LAST — graft dialect extension
      val nullsFirst =
        if (eatKw("nulls")) {
          if (eatKw("first")) Some(true)
          else if (eatKw("last")) Some(false)
          else fail("expected FIRST or LAST after NULLS")
        } else None
      items += OrderItem(e, asc, nullsFirst)
      more = eatOp(",")
    }
    items.result()
  }

  /** sql.lark:12. */
  private def parseSelect(): Select = {
    expectKw("select")
    val distinctKw = eatKw("distinct")
    // DISTINCT ON (exprs) — PostgreSQL/DuckDB "first row per group"
    // (graft dialect extension); plain DISTINCT stays a set distinct
    val distinctOn =
      if (distinctKw && atKw("on") && isOpAt(pos + 1, "(")) {
        pos += 1; expectOp("(")
        val es = Seq.newBuilder[Expr]
        var m = true
        while (m) { es += parseExpr(); m = eatOp(",") }
        expectOp(")")
        es.result()
      } else Nil
    val distinct = distinctKw && distinctOn.isEmpty
    if (!distinctKw) eatKw("all")
    val items = Seq.newBuilder[SelectItem]
    var more = true
    while (more) {
      items += parseSelectItem()
      more = eatOp(",")
    }
    val selectItems = items.result()
    expectKw("from")
    val from = parseFrom()
    val where = if (eatKw("where")) Some(parseExpr()) else None
    var groupMode = "plain"
    var groupSets = Seq.empty[Seq[Expr]]
    val groupBy =
      if (eatKw("group")) { expectKw("by")
        // GROUP BY ALL — every select item free of aggregates and
        // window functions becomes a key (DuckDB/Databricks
        // convenience; graft dialect extension). An all-aggregate
        // select yields no keys = a global aggregate, matching DuckDB.
        if (atKw("all") && allEndsClause(pos + 1)) {
          pos += 1
          if (selectItems.exists(i => i.e.isInstanceOf[Star] &&
                !hasAggOrWindow(i.e)))
            fail("GROUP BY ALL requires explicit select columns, not *")
          selectItems.collect {
            case SelectItem(e, _) if !hasAggOrWindow(e) => e
          }
        }
        // GROUP BY GROUPING SETS ((a,b),(a),()) — graft dialect
        // extension; a bare key is a singleton set, () the grand total
        else if (atKw("grouping") && pos + 1 < tokens.length &&
            isKw(tokens(pos + 1), "sets")) {
          pos += 2
          groupMode = "sets"
          expectOp("(")
          val sets = Seq.newBuilder[Seq[Expr]]
          var m = true
          while (m) {
            // nested ROLLUP/CUBE elements (r5c, standard SQL): expand
            // in place into their grouping-set lists — GROUPING SETS
            // (ROLLUP(a,b), c) = ((a,b),(a),(),(c)). Duplicate sets
            // are kept (standard semantics: duplicate result groups).
            // r6: composite elements ROLLUP((a,b),c) roll up as units.
            if ((atKw("rollup") || atKw("cube")) && isOpAt(pos + 1, "(")) {
              val kind = ident().toLowerCase
              sets ++= expandRollupCube(kind, parseGroupingElements())
            } else if (atOp("(")) {
              expectOp("(")
              val set = Seq.newBuilder[Expr]
              if (!atOp(")")) {
                var sm = true
                while (sm) { set += parseExpr(); sm = eatOp(",") }
              }
              expectOp(")")
              sets += set.result()
            } else sets += Seq(parseExpr())
            m = eatOp(",")
          }
          expectOp(")")
          groupSets = sets.result()
          groupingKeyUnion(groupSets)
        }
        // GROUP BY ROLLUP(a, b) / CUBE(a, b) — graft dialect
        // extension; r6: composite elements ROLLUP((a,b),c) lower
        // through GROUPING SETS (Dataset.rollup/cube take flat keys
        // only; the expansion is definitionally the same sets)
        else if ((atKw("rollup") || atKw("cube")) && isOpAt(pos + 1, "(")) {
          val kind = ident().toLowerCase
          val keys = parseGroupingElements()
          if (keys.forall(_.length == 1)) {
            groupMode = kind
            keys.flatten
          } else {
            groupMode = "sets"
            groupSets = expandRollupCube(kind, keys)
            groupingKeyUnion(groupSets)
          }
        } else {
          val gs = Seq.newBuilder[Expr]
          var m = true
          while (m) { gs += parseExpr(); m = eatOp(",") }
          gs.result()
        }
      } else Nil
    val having = if (eatKw("having")) Some(parseExpr()) else None
    // WINDOW name AS (spec) [, ...] — the reference grammar's
    // window_definition is literally empty (sql.lark:26,144), which
    // still parses here as an empty spec; real definitions referenced
    // from `OVER name` are a graft dialect extension
    // (DuckDB/PostgreSQL named windows)
    val windows = Seq.newBuilder[(String, WindowSpec)]
    if (eatKw("window")) {
      var more = true
      while (more) {
        val name = ident(); expectKw("as")
        windows += (name -> parseWindowSpec())
        more = eatOp(",")
      }
    }
    // QUALIFY — graft dialect extension (DuckDB/Snowflake/BigQuery):
    // filter on window-function results, after HAVING/WINDOW
    val qualify = if (eatKw("qualify")) Some(parseExpr()) else None
    Select(distinct, selectItems, from, where, groupBy, having,
      groupMode, qualify, groupSets, windows.result(), distinctOn)
  }

  /** Key list of `ROLLUP(...)` / `CUBE(...)`: each element is a
    * single expression or a parenthesized COMPOSITE `(a, b)` that
    * rolls up as one unit (standard SQL:1999 form, r6). Returns one
    * Seq per element. An element STARTING with an arithmetic paren —
    * `(a+b)*c` — is disambiguated by lookahead: if the closing paren
    * is not followed by `,` or `)` the paren opened an expression and
    * the element re-parses as one. */
  private def parseGroupingElements(): Seq[Seq[Expr]] = {
    expectOp("(")
    val ks = Seq.newBuilder[Seq[Expr]]
    var km = true
    while (km) {
      val p0 = pos
      var done = false
      if (atOp("(")) {
        expectOp("(")
        val comp = Seq.newBuilder[Expr]
        var cm = true
        while (cm) { comp += parseExpr(); cm = eatOp(",") }
        expectOp(")")
        if (atOp(",") || atOp(")")) { ks += comp.result(); done = true }
        else pos = p0 // `(a+b)*c` — the paren opened an expression
      }
      if (!done) ks += Seq(parseExpr())
      km = eatOp(",")
    }
    expectOp(")")
    ks.result()
  }

  /** Grouping-set expansion of ROLLUP/CUBE over (possibly composite)
    * elements: ROLLUP((a,b),c) = ((a,b,c),(a,b),()); CUBE drops every
    * subset of elements. */
  private def expandRollupCube(kind: String,
                               keys: Seq[Seq[Expr]]): Seq[Seq[Expr]] =
    if (kind == "rollup") (keys.length to 0 by -1).map(n => keys.take(n).flatten)
    else (keys.length to 0 by -1).flatMap(k => keys.combinations(k).map(_.flatten))

  /** Flattened distinct key union of grouping sets, in
    * first-appearance order. Dedup matches the translator's group-key
    * resolution: column names compare case-insensitively, and a
    * qualifier only distinguishes when BOTH sides carry one — so
    * ((a,b),(A)) and ((t.a),(a)) each contribute ONE `a` key, not two
    * columns that later collide. */
  private def groupingKeyUnion(sets: Seq[Seq[Expr]]): Seq[Expr] = {
    def sameKey(a: Expr, b: Expr): Boolean = (a, b) match {
      case (ColRef(q1, n1), ColRef(q2, n2)) =>
        n1.equalsIgnoreCase(n2) && ((q1, q2) match {
          case (Some(x), Some(y)) => x.equalsIgnoreCase(y)
          case _ => true
        })
      case (x, y) => x == y
    }
    sets.flatten.foldLeft(Seq.empty[Expr])((acc, e) =>
      if (acc.exists(sameKey(_, e))) acc else acc :+ e)
  }

  /** True when the expression contains an aggregate or a window
    * function anywhere — such select items are NOT GROUP BY ALL keys
    * (aggregates are the grouped values; windows evaluate after
    * grouping). */
  private def hasAggOrWindow(e: Expr): Boolean = e match {
    case _: AggExpr | _: RankExpr | _: WinFunc => true
    case other => Ast.children(other).exists(hasAggOrWindow)
  }

  private def parseSelectItem(): SelectItem = {
    val e0 = parseExpr()
    // star modifiers `* EXCLUDE (a, b) REPLACE (expr AS c)` — DuckDB
    // convenience, graft dialect extension; either clause, any order,
    // single-column EXCLUDE parens optional
    val e = e0 match {
      case Star(q) if atKw("exclude") || atKw("replace") =>
        var exclude = Seq.empty[String]
        var replace = Seq.empty[(Expr, String)]
        var cont = true
        while (cont) {
          if (eatKw("exclude")) {
            val paren = eatOp("(")
            val cs = Seq.newBuilder[String]
            var m = true
            while (m) { cs += ident(); m = paren && eatOp(",") }
            if (paren) expectOp(")")
            exclude ++= cs.result()
          } else if (eatKw("replace")) {
            expectOp("(")
            val rs = Seq.newBuilder[(Expr, String)]
            var m = true
            while (m) {
              val re = parseExpr(); expectKw("as"); rs += ((re, ident()))
              m = eatOp(",")
            }
            expectOp(")")
            replace ++= rs.result()
          } else cont = false
        }
        StarMod(q, exclude, replace)
      case other => other
    }
    val alias = parseOptionalAlias()
    // reserved helper-name prefixes: a user alias like `__qw_0` would
    // collide with hidden helper columns and be silently dropped —
    // reject loudly. Checked HERE (the user-text boundary) so the
    // translator's own rewrites (hidden ORDER BY items, decorrelated
    // grouped subqueries) may use these names internally.
    alias.foreach { a =>
      if (Parser.reservedAliasPrefixes.exists(p =>
            a.toLowerCase.startsWith(p)))
        fail(s"alias '$a' uses a reserved graft helper prefix")
    }
    SelectItem(e, alias)
  }

  private def parseOptionalAlias(): Option[String] = {
    if (eatKw("as")) Some(ident())
    else peek match {
      case Ident(v, _) if !reserved.contains(v.toLowerCase) &&
          !clauseWords.contains(v.toLowerCase) =>
        pos += 1; Some(v)
      case _ => None
    }
  }

  // ---- FROM / joins (sql.lark:28-38) --------------------------------
  private def parseFrom(): Relation = {
    var left = parseJoinChain()
    // comma-separated FROM list = implicit cross join (test_select.py:60);
    // `, lateral (select ...)` and `, unnest(arr)` are the correlated
    // forms (r5/r5b)
    while (eatOp(",")) {
      if (atKw("lateral")) left = parseLateral(left)
      else if (atUnnest) left = parseUnnestRel(Some(left), "inner")
      else left = JoinRel(left, parseJoinChain(), "cross", None)
    }
    left
  }

  private def atUnnest: Boolean = atKw("unnest") && isOpAt(pos + 1, "(")

  /** FROM-position unnest (r5b): `unnest(arr) [WITH ORDINALITY]
    * [AS] u [(x [, ord])]` — after a comma, a join keyword, or as the
    * sole FROM relation (`left` None). A JOIN-spelling ON clause must
    * be literal TRUE (the element source is the row itself). */
  private def parseUnnestRel(left: Option[Relation],
                             kind: String): Relation = {
    expectKw("unnest")
    expectOp("(")
    val arr = parseExpr()
    expectOp(")")
    val ord = if (eatKw("with")) { expectKw("ordinality"); true } else false
    val alias = parseOptionalAlias()
    val cols =
      if (alias.isDefined && eatOp("(")) {
        val cs = Seq.newBuilder[String]
        var m = true
        while (m) { cs += ident(); m = eatOp(",") }
        expectOp(")")
        cs.result()
      } else Nil
    if (cols.length > (if (ord) 2 else 1))
      fail("unnest column list takes one name" +
        (if (ord) " plus the ordinality column" else
          " (two WITH ORDINALITY)"))
    if (eatKw("on")) {
      parseExpr() match {
        case BoolLit(true) => ()
        case other => fail(s"JOIN unnest(...) ON must be TRUE, got $other")
      }
    }
    UnnestRel(left, arr, alias, cols, ord, kind)
  }

  /** LATERAL (SELECT ...) alias (r5) — after a comma or a join
    * keyword; an ON clause (for JOIN spellings) must be literal TRUE
    * (correlation lives inside the subquery). `kind` records the
    * INNER vs LEFT spelling — they differ only for the top-n form. */
  private def parseLateral(left: Relation,
                           kind: String = "inner"): Relation = {
    expectKw("lateral")
    expectOp("(")
    val sub = parseSetExpr()
    expectOp(")")
    val alias = parseOptionalAlias().getOrElse(
      fail("LATERAL subquery requires an alias"))
    if (eatKw("on")) {
      parseExpr() match {
        case BoolLit(true) => ()
        case other => fail(s"LATERAL join ON must be TRUE, got $other " +
          "(correlate inside the subquery)")
      }
    }
    LateralRel(left, sub, alias, kind)
  }

  private def parseJoinChain(): Relation = {
    var left = parseRelationPrimary()
    var continue = true
    while (continue) {
      if (atKw("cross")) {
        pos += 1; expectKw("join")
        if (atKw("lateral")) left = parseLateral(left)
        else if (atUnnest) left = parseUnnestRel(Some(left), "inner")
        else left = JoinRel(left, parseRelationPrimary(), "cross", None)
      } else if (atKw("asof")) {
        // ASOF [LEFT] JOIN ... ON eq-conjuncts AND one inequality
        // (r7b, DuckDB dialect)
        pos += 1
        val leftOuter = if (eatKw("left")) { eatKw("outer"); true } else false
        expectKw("join")
        val right = parseRelationPrimary()
        expectKw("on")
        left = AsofJoinRel(left, right, leftOuter, parseExpr())
      } else if (atKw("positional")) {
        // POSITIONAL JOIN (r11c, DuckDB): row-by-row zip
        pos += 1; expectKw("join")
        left = PositionalJoinRel(left, parseRelationPrimary())
      } else if (atKw("natural")) {
        // NATURAL [INNER|LEFT|RIGHT|FULL [OUTER]] JOIN (r5)
        pos += 1
        val t =
          if (eatKw("inner")) "inner"
          else if (eatKw("left")) { eatKw("outer"); "left" }
          else if (eatKw("right")) { eatKw("outer"); "right" }
          else if (eatKw("full")) { eatKw("outer"); "full" }
          else "inner"
        expectKw("join")
        left = NaturalJoinRel(left, parseRelationPrimary(), t)
      } else {
        val jt: Option[String] =
          if (atKw("join")) Some("inner")
          else if (atKw("inner")) { pos += 1; Some("inner") }
          // SEMI/ANTI joins (r5): DuckDB spelling (`SEMI JOIN`) and
          // the Spark SQL spelling (`LEFT SEMI JOIN`) both accepted
          else if (atKw("semi")) { pos += 1; Some("semi") }
          else if (atKw("anti")) { pos += 1; Some("anti") }
          else if (atKw("left")) {
            pos += 1
            if (eatKw("semi")) Some("semi")
            else if (eatKw("anti")) Some("anti")
            else { eatKw("outer"); Some("left") }
          }
          else if (atKw("right")) { pos += 1; eatKw("outer"); Some("right") }
          else if (atKw("full")) { pos += 1; eatKw("outer"); Some("full") }
          else None
        jt match {
          case Some(t) =>
            expectKw("join")
            if (atKw("lateral") && (t == "inner" || t == "left")) {
              left = parseLateral(left, t)
              // continue the join chain from the lateral result
            } else if (atUnnest && (t == "inner" || t == "left")) {
              left = parseUnnestRel(Some(left), t)
            } else {
            val right = parseRelationPrimary()
            if (eatKw("using")) {
              // JOIN ... USING (a, b) — graft dialect extension
              expectOp("(")
              val cols = Seq.newBuilder[String]
              var m = true
              while (m) { cols += ident(); m = eatOp(",") }
              expectOp(")")
              left = UsingJoinRel(left, right, t, cols.result())
            } else {
              val on = if (eatKw("on")) Some(parseExpr()) else None
              left = JoinRel(left, right, t, on)
            }
            }
          case None => continue = false
        }
      }
    }
    left
  }

  /** Parenthesized from-items may be subqueries OR joins
    * (sql.lark:33: subquery: "(" (query_expr | join | cross_join) ")"). */
  private def parseRelationPrimary(): Relation = {
    var rel = parseRelationAtom()
    // postfix PIVOT / UNPIVOT (r5) — bind tighter than joins
    var cont = true
    while (cont) {
      if (atKw("pivot") && isOpAt(pos + 1, "(")) {
        pos += 1; expectOp("(")
        def pivotHasAgg(e: Expr): Boolean = e match {
          case a: AggExpr => a.window.isEmpty
          case other => Ast.children(other).exists(pivotHasAgg)
        }
        // one or more aggregate expressions, each optionally aliased
        // (required for several — the alias names the cell columns)
        val aggsB = Seq.newBuilder[(Expr, Option[String])]
        var moreAggs = true
        while (moreAggs) {
          val aggE = parseExpr()
          if (!pivotHasAgg(aggE))
            fail(s"PIVOT takes aggregate expressions, got $aggE")
          val al = if (eatKw("as")) Some(ident()) else None
          aggsB += (aggE -> al)
          moreAggs = eatOp(",")
        }
        val aggs = aggsB.result()
        if (aggs.length > 1 && aggs.exists(_._2.isEmpty))
          fail("each aggregate of a multi-aggregate PIVOT needs an " +
            "AS alias (they name the cell columns)")
        expectKw("for")
        val forCol = ident()
        // the IN list is optional (r11b, DuckDB/Snowflake dynamic
        // pivot): absent ⟹ the translator discovers the distinct
        // FOR values (a bounded driver-side pass, like Spark's own
        // pivot(col))
        val vals = Seq.newBuilder[(Expr, Option[String])]
        if (eatKw("in")) {
          expectOp("(")
          var m = true
          while (m) {
            val v = parseExpr()
            val nm = if (eatKw("as")) Some(ident()) else None
            vals += (v -> nm)
            m = eatOp(",")
          }
          expectOp(")")
        }
        expectOp(")")
        rel = PivotRel(rel, aggs, forCol, vals.result())
      } else if (atKw("unpivot") && isOpAt(pos + 1, "(")) {
        pos += 1; expectOp("(")
        val valueName = ident()
        expectKw("for")
        val varName = ident()
        expectKw("in"); expectOp("(")
        val cols = Seq.newBuilder[(String, Option[String])]
        var m = true
        while (m) {
          val c = ident()
          val lab =
            if (eatKw("as")) Some(peek match {
              case Str(v, _) => pos += 1; v
              case _ => ident()
            })
            else None
          cols += (c -> lab)
          m = eatOp(",")
        }
        expectOp(")"); expectOp(")")
        rel = UnpivotRel(rel, valueName, varName, cols.result())
      } else if (atKw("using") && pos + 1 < tokens.length &&
                 isKw(tokens(pos + 1), "sample")) {
        // USING SAMPLE p% KEY (col) (r5b): deterministic md5-keyed
        // sampling — KEY is required (a rand sample would not be
        // reproducible)
        pos += 2
        val pct = peek match {
          case Num(v, _) => pos += 1; v.toDouble
          case _ => fail("USING SAMPLE takes a numeric percentage")
        }
        if (!eatOp("%")) expectKw("percent")
        if (pct < 0 || pct > 100) fail(s"sample percentage $pct out of range")
        if (!eatKw("key"))
          fail("USING SAMPLE requires KEY (col) — keyed md5 sampling " +
            "is reproducible; a rand() sample is not")
        expectOp("(")
        val key = ident()
        expectOp(")")
        rel = SampleRel(rel, pct, key)
      } else cont = false
    }
    rel
  }

  private def parseRelationAtom(): Relation = {
    if (eatOp("(")) {
      if (atKw("select")) {
        val q = parseSetExpr()
        expectOp(")")
        SubqueryRel(q, parseOptionalAlias())
      } else if (atKw("values")) {
        // (VALUES (1,'a'),(2,'b')) [AS] t [(x, y)] — inline table,
        // graft dialect extension
        pos += 1
        val rows = Seq.newBuilder[Seq[Expr]]
        var m = true
        while (m) {
          expectOp("(")
          val row = Seq.newBuilder[Expr]
          var rm = true
          while (rm) { row += parseExpr(); rm = eatOp(",") }
          expectOp(")")
          rows += row.result()
          m = eatOp(",")
        }
        expectOp(")")
        val alias = parseOptionalAlias()
        val cols =
          if (alias.isDefined && eatOp("(")) {
            val cs = Seq.newBuilder[String]
            var cm = true
            while (cm) { cs += ident(); cm = eatOp(",") }
            expectOp(")")
            Some(cs.result())
          } else None
        ValuesRel(rows.result(), cols, alias)
      } else {
        val j = parseJoinChain()
        expectOp(")")
        parseOptionalAlias() match {
          case Some(a) => AliasedRel(j, a)
          case None    => j
        }
      }
    } else if (atUnnest) {
      // sole-relation unnest: FROM unnest(expr) AS t(x)
      parseUnnestRel(None, "inner")
    } else if (atTableFn) {
      // FROM-position table function (r10, DuckDB dialect):
      // read_parquet('path' | glob) and csv/json/text siblings
      val fn = ident().toLowerCase
      expectOp("(")
      val path = next() match {
        case Str(v, _) => v
        case t => fail(s"$fn takes a string path literal, got $t")
      }
      // optional `, header = true|false` (read_csv only): DuckDB
      // auto-detects headers, Spark cannot - the flag makes the
      // headerless case expressible instead of silently losing row 1
      val header: Option[Boolean] =
        if (eatOp(",")) {
          expectKw("header"); expectOp("=")
          if (eatKw("true")) Some(true)
          else if (eatKw("false")) Some(false)
          else fail(s"$fn header option takes true or false")
        } else None
      if (header.isDefined && !fn.startsWith("read_csv"))
        fail(s"header option applies to read_csv only, not $fn")
      expectOp(")")
      TableFnRel(fn, path, header, parseOptionalAlias())
    } else if (atMacroCall) {
      // FROM-position generic call (r11c): a table-macro invocation
      // or a builtin series generator (generate_series/range) —
      // arguments are full expressions; resolution happens at
      // expansion/translation, so unknown names fail there loudly
      val fn = ident()
      expectOp("(")
      val args = Seq.newBuilder[Expr]
      if (!atOp(")")) {
        args += parseExpr()
        while (eatOp(",")) args += parseExpr()
      }
      expectOp(")")
      MacroCallRel(fn, args.result(), parseOptionalAlias())
    } else {
      val name = ident()
      TableRef(name, parseOptionalAlias())
    }
  }

  private def atMacroCall: Boolean = (peek match {
    // `range` is reserved (window frames) but unambiguous when
    // followed by '(' in FROM position — the DuckDB series generator
    case Ident(v, _) =>
      !reserved.contains(v.toLowerCase) || v.equalsIgnoreCase("range")
    case _ => false
  }) && isOpAt(pos + 1, "(")

  private val tableFns =
    Set("read_parquet", "read_csv", "read_csv_auto", "read_json",
        "read_json_auto", "read_text")
  private def atTableFn: Boolean = (peek match {
    case Ident(v, _) => tableFns.contains(v.toLowerCase)
    case _ => false
  }) && isOpAt(pos + 1, "(")

  // ---- expressions --------------------------------------------------
  // precedence: OR < AND < NOT < comparison < additive < multiplicative
  // < unary < primary (sql.lark:40-131)
  def parseExpr(): Expr = parseOr()

  private def parseOr(): Expr = {
    var l = parseAnd()
    while (eatKw("or")) l = Or(l, parseAnd())
    l
  }

  private def parseAnd(): Expr = {
    var l = parseNot()
    while (eatKw("and")) l = And(l, parseNot())
    l
  }

  private def parseNot(): Expr =
    if (atKw("not") && !isKw(tokens(pos + 1), "in")) { pos += 1; Not(parseNot()) }
    else parseComparison()

  private def parseComparison(): Expr = {
    val l = parseAdditive()
    if (atOp("=") || atOp("<>") || atOp("!=") || atOp(">") || atOp("<") ||
        atOp(">=") || atOp("<=")) {
      val Op(op0, _) = next(): @unchecked
      val op = if (op0 == "!=") "<>" else op0
      // quantified comparison `op ANY/SOME/ALL (SELECT ...)` —
      // standard SQL 8.9, graft dialect extension. Only the exact
      // `any|some|all ( select` shape quantifies, so columns named
      // `all` keep working as plain comparison operands.
      if ((atKw("any") || atKw("some") || atKw("all")) &&
          isOpAt(pos + 1, "(") &&
          pos + 2 < tokens.length && isKw(tokens(pos + 2), "select")) {
        val all = atKw("all")
        pos += 1
        expectOp("(")
        val sub = parseSetExpr()
        expectOp(")")
        (op, all) match {
          // `= ANY` IS `IN`; `<> ALL` IS `NOT IN` — canonicalize so
          // they ride the full IN machinery (semi-joins, correlation,
          // 3VL) instead of a parallel lowering
          case ("=", false) => InSubquery(l, sub)
          case ("<>", true) => Not(InSubquery(l, sub))
          case _            => QuantCmp(op, all, l, sub)
        }
      } else Cmp(op, l, parseAdditive())
    } else if (atKw("between")) {
      pos += 1
      val lo = parseAdditive(); expectKw("and"); val hi = parseAdditive()
      Between(l, lo, hi)
    } else if (atKw("is")) {
      pos += 1
      val neg = eatKw("not")
      // IS [NOT] DISTINCT FROM — null-safe equality (graft dialect
      // extension; lowers to Spark's <=>)
      if (eatKw("distinct")) {
        expectKw("from")
        val r = parseAdditive()
        val eq = Cmp("<=>", l, r)
        if (neg) eq else Not(eq)
      } else {
        expectKw("null")
        IsNull(l, neg)
      }
    } else if (atKw("like")) {
      pos += 1
      val (p, esc) = parseLikePattern("LIKE")
      Like(l, p, esc)
    } else if (atKw("ilike")) {
      pos += 1
      val (p, esc) = parseLikePattern("ILIKE")
      ILike(l, p, esc)
    } else if (atKw("not") && isKw(tokens(pos + 1), "like")) {
      pos += 2
      val (p, esc) = parseLikePattern("NOT LIKE")
      Not(Like(l, p, esc))
    } else if (atKw("not") && isKw(tokens(pos + 1), "ilike")) {
      pos += 2
      val (p, esc) = parseLikePattern("NOT ILIKE")
      Not(ILike(l, p, esc))
    } else if (atKw("similar") && isKwAt(pos + 1, "to")) {
      // SIMILAR TO (r12, DuckDB dialect): whole-string regex match —
      // DuckDB deliberately does NOT do the PostgreSQL %/_ rewrite,
      // the pattern is a plain regex anchored at both ends. Lowered
      // to Spark's regexp_like with explicit anchors. Contextual
      // keywords: 'similar' stays usable as an identifier.
      pos += 2
      parseSimilarOrGlob(l, "SIMILAR TO", neg = false)
    } else if (atKw("not") && isKwAt(pos + 1, "similar") &&
        isKwAt(pos + 2, "to")) {
      pos += 3
      parseSimilarOrGlob(l, "NOT SIMILAR TO", neg = true)
    } else if (atKw("glob") && tokens(pos + 1).isInstanceOf[Str]) {
      // GLOB (r12, DuckDB dialect): case-sensitive whole-string
      // wildcard match (* ? [...]), converted to an anchored regex at
      // parse time. Only engages when a string literal follows, so
      // 'glob' remains a valid bare alias/column name.
      pos += 1
      parseSimilarOrGlob(l, "GLOB", neg = false, glob = true)
    } else if (atKw("not") && isKwAt(pos + 1, "glob") &&
        tokens(pos + 2).isInstanceOf[Str]) {
      pos += 2
      parseSimilarOrGlob(l, "NOT GLOB", neg = true, glob = true)
    } else if (atKw("not") && isKw(tokens(pos + 1), "between")) {
      pos += 2
      val lo = parseAdditive(); expectKw("and"); val hi = parseAdditive()
      Not(Between(l, lo, hi))
    } else if (atKw("in") || (atKw("not") && isKw(tokens(pos + 1), "in"))) {
      val neg = eatKw("not")
      expectKw("in")
      expectOp("(")
      if (atKw("select")) {
        val sub = parseSetExpr()
        expectOp(")")
        val in = InSubquery(l, sub)
        if (neg) Not(in) else in
      } else {
        val vs = Seq.newBuilder[Expr]
        var more = true
        while (more) { vs += parseAdditive(); more = eatOp(",") }
        expectOp(")")
        InList(l, vs.result(), neg)
      }
    } else l
  }

  /** Shared lowering for SIMILAR TO / GLOB: pattern literal →
    * anchored regexp_like call ([[regexp_like]] resolves through
    * Spark's FunctionRegistry). GLOB wildcards convert: `*` → `.*`,
    * `?` → `.`, `[...]` passes through, everything else
    * regex-quoted. */
  private def parseSimilarOrGlob(l: Expr, ctx: String, neg: Boolean,
                            glob: Boolean = false): Expr = {
    val p = next() match {
      case Str(s, _) => s
      case t => fail(s"expected pattern string after $ctx, got $t")
    }
    val rx = if (glob) globToRegex(p) else p
    val call: Expr =
      FuncCall("regexp_like", Seq(l, StrLit("^(?:" + rx + ")$")))
    if (neg) Not(call) else call
  }

  private def globToRegex(p: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < p.length) {
      p.charAt(i) match {
        case '*' => sb ++= ".*"
        case '?' => sb += '.'
        case '[' =>
          // bracket class passes through to the regex verbatim
          // (DuckDB GLOB supports [abc] / [a-z] / [!a-z]); `!`
          // negation becomes regex `^`
          val close = p.indexOf(']', i + 2) // `]` first in class is literal
          if (close < 0) fail(s"GLOB pattern has an unclosed '[': $p")
          val body0 = p.substring(i + 1, close)
          val body = if (body0.startsWith("!")) "^" + body0.tail else body0
          sb ++= "[" + body + "]"
          i = close
        case c if "\\.^$|()+{}".indexOf(c.toInt) >= 0 =>
          sb += '\\' += c
        case c => sb += c
      }
      i += 1
    }
    sb.toString
  }

  /** Pattern string plus optional `ESCAPE 'c'` suffix (graft dialect
    * extension, standard SQL; the escape must be one character). */
  private def parseLikePattern(ctx: String): (String, Option[Char]) = {
    val p = next() match {
      case Str(s, _) => s
      case t => fail(s"expected pattern string after $ctx, got $t")
    }
    val esc =
      if (eatKw("escape")) next() match {
        case Str(s, _) if s.length == 1 => Some(s.head)
        case t => fail(s"ESCAPE requires a single-character string, got $t")
      } else None
    (p, esc)
  }

  private def parseAdditive(): Expr = {
    var l = parseMultiplicative()
    var continue = true
    while (continue) {
      if (eatOp("+")) l = Arith("+", l, parseMultiplicative())
      else if (eatOp("-")) l = Arith("-", l, parseMultiplicative())
      // `||` string concatenation (standard SQL; NULL-propagating like
      // concat) — graft dialect extension at additive precedence
      else if (eatOp("||")) l = FuncCall("concat", Seq(l, parseMultiplicative()))
      else continue = false
    }
    l
  }

  private def parseMultiplicative(): Expr = {
    var l = parseUnary()
    var continue = true
    while (continue) {
      if (eatOp("*")) l = Arith("*", l, parseUnary())
      else if (eatOp("/")) l = Arith("/", l, parseUnary())
      // modulo — graft dialect extension (not in the reference grammar)
      else if (eatOp("%")) l = Arith("%", l, parseUnary())
      else continue = false
    }
    l
  }

  private def parseUnary(): Expr =
    if (eatOp("-")) Neg(parseUnary())
    else {
      // postfix chain, all tighter than unary minus: `::type` casts
      // (PostgreSQL/DuckDB shorthand), `[i]` array/map subscripts
      // (r11 — 1-based, chains, composes with any primary), and
      // `.field` struct access beyond the two-segment qualified
      // ColRef the primary itself consumes (r11: `a.b.c`, `f(x).f`)
      var e = parsePrimary()
      var go = true
      while (go) {
        if (eatOp("::")) e = Cast(e, parseTypeName())
        else if (eatOp("[")) {
          // `[i]` subscript or `[lo:hi]` slice (r11b) — a `:` before
          // the closing bracket switches to the slice form; both
          // bounds are omittable (`a[2:]`, `a[:3]`, `a[:]`)
          if (eatOp(":")) {
            val hi = if (atOp("]")) None else Some(parseExpr())
            expectOp("]"); e = ArraySlice(e, None, hi)
          } else {
            val first = parseExpr()
            if (eatOp(":")) {
              val hi = if (atOp("]")) None else Some(parseExpr())
              expectOp("]"); e = ArraySlice(e, Some(first), hi)
            } else { expectOp("]"); e = Subscript(e, first) }
          }
        } else if (atOp(".") && pos + 1 < tokens.length &&
                   tokens(pos + 1).isInstanceOf[Lexer.Ident]) {
          pos += 1; e = FieldAccess(e, ident())
        } else go = false
      }
      e
    }

  /** Aggregate spellings accepted by the reference
    * (parsing/aggregation_aliases.py: mean≡avg, minimum≡min,
    * maximum≡max) mapped to canonical names. */
  private val aggFuncs = Map(
    "sum" -> "sum", "avg" -> "avg", "mean" -> "avg",
    "min" -> "min", "minimum" -> "min",
    "max" -> "max", "maximum" -> "max", "count" -> "count",
    // dispersion aggregates — graft dialect extension (sample forms,
    // the SQL-standard default)
    "stddev" -> "stddev", "stddev_samp" -> "stddev",
    "variance" -> "variance", "var_samp" -> "variance",
    // r5 aggregate-catalog extensions (DuckDB/Spark-common names):
    // boolean/conditional/positional aggregates, two-column statistics,
    // ordered-set aggregates, and GROUPING() for grouping-set queries
    "bool_and" -> "bool_and", "bool_or" -> "bool_or",
    // bitwise aggregates (r11b) — same names in DuckDB and Spark
    "bit_and" -> "bit_and", "bit_or" -> "bit_or", "bit_xor" -> "bit_xor",
    "count_if" -> "count_if", "median" -> "median",
    "corr" -> "corr", "covar_pop" -> "covar_pop",
    "covar_samp" -> "covar_samp",
    "max_by" -> "max_by", "arg_max" -> "max_by",
    "min_by" -> "min_by", "arg_min" -> "min_by",
    "string_agg" -> "string_agg", "listagg" -> "string_agg",
    "array_agg" -> "array_agg",
    "percentile_cont" -> "percentile_cont",
    "percentile_disc" -> "percentile_disc",
    "grouping" -> "grouping")

  private def parsePrimary(): Expr = {
    peek match {
      case Op("(", _) =>
        pos += 1
        if (atKw("select")) {
          // (SELECT ...) in expression position — uncorrelated scalar
          // subquery, graft dialect extension
          val sub = parseSetExpr()
          expectOp(")")
          ScalarSubquery(sub)
        } else {
          val e = parseExpr()
          if (atOp(",")) {
            // row-value constructor `(a, b, ...)` (r9)
            val items = Seq.newBuilder[Expr]; items += e
            while (eatOp(",")) items += parseExpr()
            expectOp(")")
            RowTuple(items.result())
          } else { expectOp(")"); e }
        }
      case Op("*", _) =>
        pos += 1; Star(None)
      case Op("[", _) =>
        // `[e1, e2, ...]` list literal (r11b, DuckDB) → array(...);
        // `[expr FOR x IN list [IF cond]]` list comprehension (r11c,
        // DuckDB) → transform(filter(list, x -> cond), x -> expr)
        pos += 1
        if (atOp("]")) { pos += 1; FuncCall("array", Nil) }
        else {
          val first = parseExpr()
          if (eatKw("for")) {
            val param = ident().toLowerCase
            expectKw("in")
            val src = parseExpr()
            val cond = if (eatKw("if")) Some(parseExpr()) else None
            expectOp("]")
            val filtered = cond
              .map(c => FuncCall("filter", Seq(src, Lambda(Seq(param), c))))
              .getOrElse(src)
            FuncCall("transform", Seq(filtered, Lambda(Seq(param), first)))
          } else {
            val items = Seq.newBuilder[Expr]
            items += first
            while (eatOp(",")) items += parseExpr()
            expectOp("]")
            FuncCall("array", items.result())
          }
        }
      case Op("{", _) =>
        // `{'k': v, ...}` struct literal (r11b, DuckDB) →
        // named_struct('k', v, ...); keys are single-quoted strings
        // (the DuckDB spelling) or bare identifiers
        pos += 1; parseStructLiteral()
      case Num(v, _) => pos += 1; NumLit(v)
      case Str(v, _) => pos += 1; StrLit(v)
      case Ident(v, _) =>
        val lower = v.toLowerCase
        lower match {
          case "null" => pos += 1; NullLit()
          case "true" => pos += 1; BoolLit(true)
          case "false" => pos += 1; BoolLit(false)
          case "case" => pos += 1; parseCase()
          case "cast" if isOpAt(pos + 1, "(") => pos += 1; parseCast()
          case "try_cast" if isOpAt(pos + 1, "(") =>
            pos += 1; parseCast(safe = true)
          case "coalesce" if isOpAt(pos + 1, "(") =>
            pos += 1; expectOp("(")
            val args = Seq.newBuilder[Expr]
            var more = true
            while (more) { args += parseExpr(); more = eatOp(",") }
            expectOp(")")
            Coalesce(args.result())
          // `MAP {'k': v, ...}` map literal (r11b, DuckDB) →
          // map('k', v, ...); only when the brace follows — a bare
          // `map` stays an identifier/function name
          case "map" if isOpAt(pos + 1, "{") =>
            pos += 1; expectOp("{"); parseBraceEntries("map")
          case "now" if isOpAt(pos + 1, "(") =>
            pos += 1; expectOp("("); expectOp(")"); NowLit()
          case "today" if isOpAt(pos + 1, "(") =>
            pos += 1; expectOp("("); expectOp(")"); TodayLit()
          case "timestamp" if isOpAt(pos + 1, "(") =>
            pos += 1; expectOp("(")
            val d = next() match {
              case Str(s, _) => s
              case t => fail(s"expected date string, got $t")
            }
            expectOp(",")
            val t = next() match {
              case Str(s, _) => s
              case tt => fail(s"expected time string, got $tt")
            }
            expectOp(")")
            TimestampLit(d, t)
          // typed literals DATE '...' / TIMESTAMP '...' — graft
          // dialect extension (standard SQL; the reference only has
          // the TIMESTAMP('d','t') call form, sql.lark:147)
          case "date" if isStrAt(pos + 1) =>
            pos += 1
            val Str(v, _) = next(): @unchecked
            DateLit(v.trim)
          case "timestamp" if isStrAt(pos + 1) =>
            pos += 1
            val Str(v, _) = next(): @unchecked
            v.trim.split("\\s+", 2) match {
              case Array(d, t) => TimestampLit(d, t)
              case Array(d)    => TimestampLit(d, "00:00:00")
            }
          case "interval" if isStrAt(pos + 1) ||
              (pos + 1 < tokens.length && tokens(pos + 1).isInstanceOf[Num]) =>
            pos += 1
            parseInterval()
          // EXTRACT(field FROM expr) — graft dialect extension
          // (standard SQL); pure sugar, lowered at parse to the
          // registry functions so every downstream path just works
          case "extract" if isOpAt(pos + 1, "(") =>
            pos += 1; expectOp("(")
            val field = ident().toLowerCase
            expectKw("from")
            val src = parseExpr()
            expectOp(")")
            field match {
              case "year" | "month" | "quarter" | "hour" | "minute" |
                   "second" | "day" => FuncCall(field, Seq(src))
              case "week" | "isoweek"   => FuncCall("weekofyear", Seq(src))
              case "doy" | "dayofyear"  => FuncCall("dayofyear", Seq(src))
              // DuckDB/PostgreSQL dow: Sunday = 0; Spark dayofweek:
              // Sunday = 1
              case "dow" | "dayofweek" =>
                Arith("-", FuncCall("dayofweek", Seq(src)), NumLit("1"))
              // isodow: Monday = 1 .. Sunday = 7; Spark weekday:
              // Monday = 0
              case "isodow" =>
                Arith("+", FuncCall("weekday", Seq(src)), NumLit("1"))
              // DuckDB epoch is DOUBLE seconds incl. the fraction —
              // unix_timestamp's whole-second BIGINT would silently
              // truncate sub-second timestamps
              case "epoch" =>
                Arith("/",
                  FuncCall("unix_micros", Seq(Cast(src, "timestamp"))),
                  NumLit("1000000.0"))
              case other => fail(s"unsupported EXTRACT field '$other'")
            }
          // SUBSTRING(x FROM start [FOR len]) — standard syntax sugar
          // over the 2/3-arg function form
          case "substring" | "substr" if isOpAt(pos + 1, "(") =>
            pos += 1; expectOp("(")
            val s0 = parseExpr()
            if (eatKw("from")) {
              val start = parseExpr()
              val len = if (eatKw("for")) Some(parseExpr()) else None
              expectOp(")")
              FuncCall("substring", s0 +: start +: len.toSeq)
            } else {
              val args = Seq.newBuilder[Expr]; args += s0
              while (eatOp(",")) args += parseExpr()
              expectOp(")")
              FuncCall(lower, args.result())
            }
          // POSITION(needle IN haystack) — standard syntax; the first
          // operand parses at additive precedence so the IN keyword
          // stays ours (1-based index, 0 = not found)
          case "position" if isOpAt(pos + 1, "(") =>
            pos += 1; expectOp("(")
            val needle = parseAdditive()
            if (eatKw("in")) {
              val hay = parseExpr()
              expectOp(")")
              FuncCall("position", Seq(needle, hay))
            } else {
              val args = Seq.newBuilder[Expr]; args += needle
              while (eatOp(",")) args += parseExpr()
              expectOp(")")
              FuncCall("position", args.result())
            }
          // TRIM([LEADING|TRAILING|BOTH] [chars] FROM x) — standard
          // syntax mapped onto ltrim/rtrim/trim
          case "trim" if isOpAt(pos + 1, "(") &&
              (isKwAt(pos + 2, "leading") || isKwAt(pos + 2, "trailing") ||
               isKwAt(pos + 2, "both") ||
               (isStrAt(pos + 2) && isKwAt(pos + 3, "from"))) =>
            pos += 1; expectOp("(")
            val fn =
              if (eatKw("leading")) "ltrim"
              else if (eatKw("trailing")) "rtrim"
              else { eatKw("both"); "trim" }
            val chars = peek match {
              case Str(s, _) => pos += 1; Some(s)
              case _ => None
            }
            expectKw("from")
            val src = parseExpr()
            expectOp(")")
            FuncCall(fn, src +: chars.map(StrLit).toSeq)
          case "exists" if isOpAt(pos + 1, "(") =>
            pos += 1; expectOp("(")
            val sub = parseSetExpr()
            expectOp(")")
            ExistsSubquery(sub)
          case "rank" | "dense_rank" if isOpAt(pos + 1, "(") =>
            pos += 1; expectOp("("); expectOp(")")
            expectKw("over")
            RankExpr(dense = lower == "dense_rank", window = parseOverSpec())
          case f if aggFuncs.contains(f) && isOpAt(pos + 1, "(") =>
            pos += 1; expectOp("(")
            val distinct = eatKw("distinct")
            val arg0 = if (atOp("*")) { pos += 1; Star(None) } else parseExpr()
            // r5: arguments beyond the first (corr(x, y), max_by(a, b),
            // string_agg(x, sep)) and an ORDER BY inside the call for
            // ordered-set aggregates (string_agg/array_agg)
            val extras = Seq.newBuilder[Expr]
            while (eatOp(",")) extras += parseExpr()
            val aggOrder =
              if (eatKw("order")) { expectKw("by"); parseOrderList() }
              else Nil
            expectOp(")")
            val canon = aggFuncs(f)
            // WITHIN GROUP (ORDER BY x) — standard ordered-set
            // aggregate syntax (r5): the fraction rides as the CALL
            // argument, the aggregated column comes from the ORDER BY
            if (atKw("within")) {
              pos += 1; expectKw("group"); expectOp("(")
              expectKw("order"); expectKw("by")
              val wo = parseOrderList()
              expectOp(")")
              if (canon != "percentile_cont" && canon != "percentile_disc")
                fail(s"WITHIN GROUP is not supported on $f")
              if (extras.result().nonEmpty || aggOrder.nonEmpty || distinct)
                fail(s"$f takes one fraction argument and WITHIN GROUP")
              if (atKw("filter"))
                fail("FILTER is not supported with WITHIN GROUP")
              val win = if (eatKw("over")) Some(parseOverSpec()) else None
              return AggExpr(canon, distinct = false,
                wo.head.e, win, Seq(arg0), wo)
            }
            if (canon == "percentile_cont" || canon == "percentile_disc")
              fail(s"$f requires WITHIN GROUP (ORDER BY x)")
            // agg(...) FILTER (WHERE pred) — graft dialect extension
            // (standard SQL / DuckDB / Spark SQL). Lowers by CASE-
            // wrapping the argument: NULLs are invisible to every
            // aggregate (including DISTINCT forms and COUNT), which
            // is exactly FILTER's semantics; COUNT(*) counts a
            // non-null literal instead.
            val arg =
              if (atKw("filter") && isOpAt(pos + 1, "(")) {
                pos += 1; expectOp("("); expectKw("where")
                val pred = parseExpr(); expectOp(")")
                // FILTER lowers by CASE-wrapping the FIRST argument —
                // equivalent only where a NULL argument is invisible
                // to the aggregate. That fails for multi-argument
                // aggregates (the other columns still see the row) and
                // for array_agg (NULL elements are kept): loud error.
                if (canon == "array_agg" ||
                    (extras.result().nonEmpty && canon != "string_agg"))
                  fail(s"FILTER is not supported on $f")
                val base = arg0 match {
                  case Star(_) => NumLit("1")
                  case e => e
                }
                CaseWhen(Seq((pred, base)), NullLit())
              } else arg0
            val win = if (eatKw("over")) Some(parseOverSpec()) else None
            AggExpr(canon, distinct, arg, win, extras.result(), aggOrder)
          case _ if isOpAt(pos + 1, "(") =>
            // generic scalar or window function (graft extension)
            pos += 1; expectOp("(")
            val args = Seq.newBuilder[Expr]
            if (!atOp(")")) {
              var more = true
              while (more) {
                args += parseLambdaOrExpr()
                more = eatOp(",")
              }
            }
            // <null treatment> (r5): DuckDB puts IGNORE/RESPECT NULLS
            // INSIDE the parens, the SQL standard AFTER them — accept
            // both positions
            def nullTreatment(): Option[Boolean] =
              if (atKw("ignore") && isKw(tokens(pos + 1), "nulls")) {
                pos += 2; Some(true)
              } else if (atKw("respect") && isKw(tokens(pos + 1), "nulls")) {
                pos += 2; Some(false)
              } else None
            val ntInside = nullTreatment()
            expectOp(")")
            // after-parens (standard) position only when OVER follows
            // — otherwise `outer(inner(x) ignore nulls)` would let the
            // INNER call steal the outer's null treatment
            val ntAfter =
              if (ntInside.isEmpty && (atKw("ignore") || atKw("respect")) &&
                  isKw(tokens(pos + 1), "nulls") &&
                  isKw(tokens(pos + 2), "over")) nullTreatment()
              else None
            val nt = ntInside.orElse(ntAfter)
            if (eatKw("over"))
              WinFunc(lower, args.result(), parseOverSpec(),
                ignoreNulls = nt.getOrElse(false))
            else {
              if (nt.isDefined)
                fail("IGNORE/RESPECT NULLS is only valid on window " +
                  "functions (OVER required)")
              FuncCall(lower, args.result())
            }
          case _ =>
            pos += 1
            // qualified column t.col or t.*
            if (eatOp(".")) {
              if (eatOp("*")) Star(Some(v))
              else ColRef(Some(v), ident())
            } else ColRef(None, v)
        }
      case t => fail(s"unexpected token $t")
    }
  }

  private def isOpAt(p: Int, op: String): Boolean =
    p < tokens.length && (tokens(p) match {
      case Op(v, _) => v == op
      case _ => false
    })

  private def isStrAt(p: Int): Boolean =
    p < tokens.length && tokens(p).isInstanceOf[Str]

  private def isKwAt(p: Int, kw: String): Boolean =
    p < tokens.length && isKw(tokens(p), kw)

  private val intervalUnits: Map[String, (Long, Long, Long)] = Map(
    "year" -> ((12L, 0L, 0L)), "month" -> ((1L, 0L, 0L)),
    "week" -> ((0L, 7L, 0L)), "day" -> ((0L, 1L, 0L)),
    "hour" -> ((0L, 0L, 3600L)), "minute" -> ((0L, 0L, 60L)),
    "second" -> ((0L, 0L, 1L)))

  /** INTERVAL literal bodies: `3 month`, `'3' month`, `'3 months'`,
    * `'1 day 2 hours'`, and repeated `n unit` pairs (`1 day 2 hour`).
    * Normalized to the (months, days, seconds) triple at parse. */
  private def parseInterval(): Expr = {
    var months = 0L; var days = 0L; var seconds = 0L
    def add(nTxt: String, unitRaw: String): Unit = {
      val n = try nTxt.toLong catch { case _: NumberFormatException =>
        fail(s"INTERVAL quantity must be an integer, got '$nTxt'") }
      intervalUnits.get(unitRaw.toLowerCase.stripSuffix("s")) match {
        case Some((m, d, s)) => months += m * n; days += d * n; seconds += s * n
        case None => fail(s"unsupported INTERVAL unit '$unitRaw'")
      }
    }
    def unitAt(p: Int): Option[String] = if (p < tokens.length) tokens(p) match {
      case Ident(v, _)
        if intervalUnits.contains(v.toLowerCase.stripSuffix("s")) => Some(v)
      case _ => None
    } else None
    var any = false
    var continue = true
    while (continue) {
      peek match {
        case Num(v, _) if unitAt(pos + 1).isDefined =>
          pos += 1; add(v, unitAt(pos).get); pos += 1; any = true
        case Str(s, _) =>
          val t = s.trim
          if (t.matches("[0-9]+") && unitAt(pos + 1).isDefined) {
            pos += 1; add(t, unitAt(pos).get); pos += 1; any = true
          } else {
            val parts = t.split("\\s+")
            if (parts.length >= 2 && parts.length % 2 == 0 &&
                parts.grouped(2).forall(_(0).matches("[0-9]+"))) {
              pos += 1
              parts.grouped(2).foreach(g => add(g(0), g(1)))
              any = true
            } else if (!any) fail(s"cannot parse INTERVAL literal '$s'")
            continue = false
          }
        case _ => continue = false
      }
    }
    if (!any) fail("INTERVAL requires a quantity and a unit")
    IntervalLit(months, days, seconds)
  }

  /** `{'k': v, ...}` struct-literal body after the opening brace
    * (r11b, DuckDB): keys are single-quoted strings (the DuckDB
    * spelling) or bare identifiers; lowers to named_struct so field
    * access (`{'a': 1}.a`) and the whole downstream surface just
    * work. An empty `{}` is loud — DuckDB rejects it too. */
  private def parseStructLiteral(): Expr = {
    if (atOp("}")) fail("empty struct literal {} is not supported")
    val args = Seq.newBuilder[Expr]
    var more = true
    while (more) {
      val key = next() match {
        case Str(s, _)   => s
        case Ident(s, _) => s
        case t => fail(s"expected struct field name, got $t")
      }
      expectOp(":")
      args += StrLit(key); args += parseExpr()
      more = eatOp(",")
    }
    expectOp("}")
    FuncCall("named_struct", args.result())
  }

  /** `MAP {'k': v, ...}` entries after the opening brace (r11b,
    * DuckDB): keys are full expressions (DuckDB allows computed map
    * keys); lowers to map(k1, v1, ...). `MAP {}` is an empty map. */
  private def parseBraceEntries(fn: String): Expr = {
    val args = Seq.newBuilder[Expr]
    if (!atOp("}")) {
      var more = true
      while (more) {
        args += parseExpr(); expectOp(":"); args += parseExpr()
        more = eatOp(",")
      }
    }
    expectOp("}")
    FuncCall(fn, args.result())
  }

  private def parseCase(): Expr = {
    // simple CASE (r11c): `CASE x WHEN v THEN r …` — standard sugar
    // for the searched form with `x = v` branch conditions (equality
    // semantics: a NULL comparand matches no branch and falls to
    // ELSE, exactly as the spelled-out comparisons evaluate)
    val comparand: Option[Expr] =
      if (atKw("when")) None else Some(parseExpr())
    val pairs = Seq.newBuilder[(Expr, Expr)]
    var nBranches = 0
    while (atKw("when")) {
      pos += 1
      val w = parseExpr()
      expectKw("then")
      val v = parseExpr()
      pairs += ((w, v))
      nBranches += 1
    }
    if (nBranches == 0)
      fail("CASE requires at least one WHEN branch")
    // ELSE is optional (graft extension; omitted => NULL). The
    // reference grammar requires it (sql.lark:43).
    val otherwise = if (eatKw("else")) parseExpr() else NullLit()
    expectKw("end")
    comparand match {
      case None =>
        CaseWhen(pairs.result(), otherwise)
      // provably-deterministic comparand: duplicate `c = v` into each
      // branch — Catalyst's codegen subexpression elimination
      // evaluates the shared comparand once per row, so the
      // duplication is free
      case Some(c) if !maybeNondeterministic(c) ||
          (pairs.result().exists { case (w, v) =>
            containsAgg(w) || containsAgg(v) } || containsAgg(otherwise)) =>
        // also the fallback when branches carry AGGREGATES (they
        // cannot live inside the lambda binding): the r11c duplicated
        // form, re-evaluating an unknown-function comparand per
        // branch in that corner only
        CaseWhen(pairs.result().map { case (w, v) =>
          (Cmp("=", c, w): Expr, v) }, otherwise)
      // possibly-nondeterministic comparand (CASE random() WHEN …, or
      // an UNKNOWN function name that could be a session macro hiding
      // one): standard SQL evaluates the comparand ONCE per row —
      // bind it through a single-element transform() lambda so every
      // branch compares the same drawn value (the duplicated form
      // would re-draw per branch, diverging from DuckDB). Macro
      // expansion walks lambda arguments, so a macro comparand
      // expands INSIDE the binding and still evaluates once.
      case Some(c) =>
        val p = "__case_comparand"
        val bound = CaseWhen(pairs.result().map { case (w, v) =>
          (Cmp("=", ColRef(None, p), w): Expr, v) }, otherwise)
        Subscript(
          FuncCall("transform",
            Seq(FuncCall("array", Seq(c)), Lambda(Seq(p), bound))),
          NumLit("1"))
    }
  }

  /** Could the expression draw a per-row nondeterministic value?
    * True for the random family AND for any function name the parser
    * cannot vouch for (it might be a session macro whose body hides
    * random() — macros expand after parsing, so the safe answer for
    * unknown names is the single-evaluation path; deterministic-but-
    * unknown comparands merely take the slower binding). Aggregates
    * and window calls are AggExpr nodes, never FuncCall, so they
    * keep the duplicated path the aggregate pipeline requires.
    * now()/today() are query-constant in both engines. */
  private val knownDeterministicFns: Set[String] = Set(
    "lower", "upper", "length", "len", "trim", "ltrim", "rtrim",
    "abs", "round", "floor", "ceil", "ceiling", "sqrt", "cbrt",
    "concat", "concat_ws", "substring", "substr", "coalesce", "md5",
    "sha1", "sha2", "hash", "xxhash64", "year", "month", "day",
    "quarter", "hour", "minute", "second", "split_part", "left",
    "right", "reverse", "lpad", "rpad", "regexp_extract",
    "regexp_replace", "regexp_like", "instr", "strpos", "position",
    "greatest", "least", "nullif", "ifnull", "nvl", "replace",
    "repeat", "mod", "pmod", "power", "pow", "exp", "ln", "log",
    "log2", "log10", "sign", "signum", "date_trunc", "date_part",
    "datepart", "strftime", "strptime", "date_diff", "datediff",
    "now", "today", "current_date", "current_timestamp", "timestamp",
    "starts_with", "ends_with", "prefix", "suffix", "contains",
    "named_struct", "array", "element_at", "string_split",
    "array_to_string", "str_split", "format_string", "printf",
    "translate", "initcap", "ascii", "chr", "char_length",
    "character_length", "octet_length", "bit_length", "unicode")

  private def maybeNondeterministic(e: Expr): Boolean = e match {
    case FuncCall(n, args) =>
      !knownDeterministicFns.contains(n.toLowerCase) ||
        args.exists(maybeNondeterministic)
    case other => Ast.children(other).exists(maybeNondeterministic)
  }

  private def containsAgg(e: Expr): Boolean = e match {
    case _: AggExpr => true
    case other => Ast.children(other).exists(containsAgg)
  }

  /** A higher-order-function argument: `x -> body` or
    * `(x, i) -> body` (r7b) — detected by lookahead so plain
    * parenthesized expressions are untouched; falls back to
    * parseExpr. */
  private def parseLambdaOrExpr(): Expr = {
    peek match {
      case Ident(v, _) if !reserved.contains(v.toLowerCase) &&
          isOpAt(pos + 1, "->") =>
        pos += 2
        Lambda(Seq(v.toLowerCase), parseExpr())
      case Op("(", _) =>
        // scan ahead for "( ident (, ident)* ) ->"
        var j = pos + 1
        val ps = Seq.newBuilder[String]
        var good = true; var done = false
        while (good && !done) {
          tokens(j) match {
            case Ident(v, _) if !reserved.contains(v.toLowerCase) =>
              ps += v.toLowerCase
              tokens(j + 1) match {
                case Op(",", _) => j += 2
                case Op(")", _) => j += 2; done = true
                case _ => good = false
              }
            case _ => good = false
          }
        }
        val params = ps.result()
        if (good && params.nonEmpty && isOpAt(j, "->")) {
          pos = j + 1
          Lambda(params, parseExpr())
        } else parseExpr()
      case _ => parseExpr()
    }
  }

  private def parseCast(safe: Boolean = false): Expr = {
    expectOp("(")
    val e = parseExpr()
    expectKw("as")
    val t = parseTypeName()
    expectOp(")")
    Cast(e, t, safe)
  }

  /** A type name with optional parenthesized integer parameters —
    * `decimal(18,2)`, `numeric(10)`, `varchar(255)` (r6, standard
    * SQL). The parameters ride inside the type string; the translator
    * interprets them. */
  private def parseTypeName(): String = {
    val base0 = ident()
    // standard multi-word spellings (r10): `double precision`,
    // `character varying(n)`, `timestamp/time with[out] time zone`
    // — normalized to the single-word catalog name the translator
    // interprets (the dialect carries no separate tz-aware type,
    // matching DuckDB's TIMESTAMP default)
    val base = base0.toLowerCase match {
      case "double" if eatKw("precision") => base0
      case "character" | "char" | "nchar" if eatKw("varying") => "varchar"
      case "national" =>
        if (!eatKw("character") && !eatKw("char"))
          fail("expected CHARACTER after NATIONAL")
        if (eatKw("varying")) () // NATIONAL CHARACTER [VARYING] -> varchar
        "varchar"
      case "timestamp" | "time" =>
        if (eatKw("with") || eatKw("without")) {
          expectKw("time"); expectKw("zone")
        }
        base0
      case _ => base0
    }
    if (atOp("(")) {
      def param(): String = next() match {
        case Num(v, _) => v
        case t => fail(s"expected a numeric type parameter, got $t")
      }
      expectOp("(")
      val params = scala.collection.mutable.ListBuffer(param())
      while (eatOp(",")) params += param()
      expectOp(")")
      s"$base(${params.mkString(",")})"
    } else base
  }

  /** After OVER: an inline (spec) or a bare identifier referencing a
    * WINDOW-clause definition (resolved by the translator). */
  private def parseOverSpec(): WindowSpec =
    if (atOp("(")) parseWindowSpec()
    else WindowSpec(Nil, Nil, None, ref = Some(ident()))

  /** OVER ( [base_window] [PARTITION BY ...] [ORDER BY ... [frame]] )
    * — sql.lark:51-65; the optional leading base-window name is
    * PostgreSQL/DuckDB window inheritance (graft dialect extension),
    * resolved and merged by the translator. */
  private def parseWindowSpec(): WindowSpec = {
    expectOp("(")
    val base = peek match {
      case Ident(v, _) if !Set("partition", "order", "rows", "range", "groups")
          .contains(v.toLowerCase) =>
        pos += 1; Some(v)
      case _ => None
    }
    val parts =
      if (eatKw("partition")) { expectKw("by")
        val ps = Seq.newBuilder[Expr]
        var more = true
        while (more) {
          ps += parseExpr()
          // stop consuming commas if next clause starts
          more = eatOp(",")
        }
        ps.result()
      } else Nil
    val (orders, frame) =
      if (eatKw("order")) { expectKw("by")
        val os = parseOrderList()
        val fr =
          if (atKw("rows") || atKw("range") || atKw("groups"))
            Some(parseFrameMode())
          else None
        (os, fr)
      } else if (atKw("rows") || atKw("range") || atKw("groups")) {
        // frame with no ORDER BY of its own — legal when inheriting a
        // base window that brings the ordering (`w2 AS (w ROWS ...)`)
        (Nil: Seq[OrderItem], Some(parseFrameMode()))
      } else (Nil, None)
    // standard frame exclusion (r5c): EXCLUDE {CURRENT ROW | GROUP |
    // TIES | NO OTHERS} — part of the frame clause, so a frame extent
    // must precede it
    val exclude =
      if (eatKw("exclude")) {
        if (frame.isEmpty)
          fail("EXCLUDE requires a frame clause (ROWS/RANGE/GROUPS ...) " +
            "before it")
        if (eatKw("current")) { expectKw("row"); "current row" }
        else if (eatKw("group")) "group"
        else if (eatKw("ties")) "ties"
        else { expectKw("no"); expectKw("others"); "no others" }
      } else "no others"
    expectOp(")")
    WindowSpec(parts, orders, frame, ref = base, exclude = exclude)
  }

  /** Eats the frame-mode keyword (ROWS/RANGE/GROUPS — the standard's
    * three modes; GROUPS is a graft dialect extension over Spark) and
    * the extent that follows. */
  private def parseFrameMode(): Frame = {
    val isRows = eatKw("rows")
    val isGroups = !isRows && eatKw("groups")
    if (!isRows && !isGroups) expectKw("range")
    parseFrameExtent(isRows, isGroups)
  }

  private def parseFrameExtent(isRows: Boolean,
                               isGroups: Boolean = false): Frame = {
    if (eatKw("between")) {
      val start = parseFrameBound()
      expectKw("and")
      val end = parseFrameBound()
      Frame(isRows, start, end, isGroups)
    } else {
      // bare "n PRECEDING" / "UNBOUNDED PRECEDING" = start, end=current row
      Frame(isRows, parseFrameBound(), CurrentRow, isGroups)
    }
  }

  private def parseFrameBound(): FrameBound = {
    if (eatKw("unbounded")) {
      if (eatKw("preceding")) UnboundedPreceding
      else { expectKw("following"); UnboundedFollowing }
    } else if (eatKw("current")) { expectKw("row"); CurrentRow }
    else {
      val n = parseIntLit()
      if (eatKw("preceding")) Preceding(n)
      else { expectKw("following"); Following(n) }
    }
  }
}

object Parser {
  /** A syntax error at `token` (its `pos` is the source offset). */
  final case class ParseException(msg: String, token: Token)
      extends RuntimeException(s"$msg (at token $token)")

  def parse(sql: String): Ast.SetExpr =
    new Parser(Lexer.tokenize(sql)).parse()

  /** One statement — a query or any statement form of
    * [[Ast.Statement]]; one final `;` may follow. */
  def parseStatement(sql: String): Ast.Statement =
    new Parser(Lexer.tokenize(sql), sql).statement()

  /** The statements of a script, split at `;` tokens. */
  def parseScript(sql: String): Seq[Ast.Statement] =
    new Parser(Lexer.tokenize(sql), sql).script()

  /** Hidden helper-column name prefixes the translator generates; user
    * select-item aliases may not collide with them (parseSelectItem
    * rejects loudly — helper cleanup would silently drop the column). */
  val reservedAliasPrefixes: Seq[String] =
    Seq("__qw_", "__sq_", "__ssq_", "__csq_", "__hq_", "__gk_", "__agg_",
      "__ob_", "__gq_", "__don_")
}
