package graft.sql

import Ast._

/** SQL macros (r11c, DuckDB dialect): `CREATE MACRO f(a, b := 2) AS
  * a + b` (scalar) and `CREATE MACRO m(x) AS TABLE SELECT …` (table).
  *
  * A macro is a NAMED, PARAMETERIZED query fragment stored in the
  * session registry — DuckDB's lightweight alternative to views for
  * reusable expressions (CREATE [OR REPLACE] MACRO, duckdb docs
  * "CREATE MACRO"; the reference engine has no statement surface, so
  * this extends the graft dialect the way PREPARE/COPY did). Macros
  * expand by AST SUBSTITUTION before translation — the planner sees
  * only the expanded tree, so Catalyst optimizes the composed query
  * exactly as if the user had written it inline: zero runtime cost,
  * no UDF boundary, aggregates/windows inside macro bodies plan as
  * real aggregates/windows.
  *
  * Bodies are parsed ONCE at CREATE time (syntax errors surface at
  * the CREATE statement, not first use). Expansion is capture-free:
  * parameter substitution rewrites each original `ColRef(param)`
  * node exactly once, and substituted argument subtrees are never
  * re-matched (the [[Ast.transformUp]] no-re-traversal contract), so
  * an argument that happens to NAME another parameter is never
  * re-substituted. Recursive or deeply-nested macros fail loudly at
  * depth 16 (matching the EXECUTE recursion wall).
  */
object Macros {
  /** `params` in declaration order, lower-cased; `defaults` holds the
    * parsed default expression of each `p := expr` parameter (calls
    * bind positionally; trailing parameters may be omitted when they
    * have defaults). `body` Left = scalar expression, Right = table
    * macro query. */
  final case class Macro(name: String, params: Seq[String],
                         defaults: Map[String, Expr],
                         body: Either[Expr, SetExpr])

  val MaxDepth = 16

  /** A macro that cannot be defined or expanded. */
  final case class MacroException(msg: String) extends RuntimeException(msg)

  /** Series-generator names the translator lowers natively — a user
    * macro may not shadow them (the FROM-position call would be
    * ambiguous). */
  val builtinTableFns: Set[String] = Set("generate_series", "range")
}

/** Expands every macro call in a parsed tree; see [[Macros]]. */
final class MacroExpander(lookup: String => Option[Macros.Macro]) {
  import Macros._

  private def fail(msg: String): Nothing = throw MacroException(msg)

  def apply(s: SetExpr): SetExpr = set(s, Map.empty, 0)

  /** Binds `args` to the macro's parameters positionally, filling
    * trailing omissions from defaults. Default expressions are
    * macro-expanded here (empty env, depth-counted) — substituted
    * subtrees are never re-walked, so a default that itself calls a
    * macro (`f(x, y := g(1))`) must expand BEFORE insertion, matching
    * DuckDB's macro-in-default behavior. */
  private def bind(m: Macro, args: Seq[Expr], d: Int): Map[String, Expr] = {
    if (args.length > m.params.length)
      fail(s"macro '${m.name}' takes ${m.params.length} argument(s), " +
        s"got ${args.length}")
    val missing = m.params.drop(args.length)
    val defaulted = missing.map { p =>
      p -> expr(m.defaults.getOrElse(p,
        fail(s"macro '${m.name}': parameter '$p' has no default and " +
          "no argument was supplied")), Map.empty, d)
    }
    (m.params.zip(args) ++ defaulted).toMap
  }

  private def set(s: SetExpr, env: Map[String, Expr], d: Int): SetExpr =
    Ast.mapExprs(s, expr(_, env, d), {
      case MacroCallRel(name, args, alias) if lookup(name.toLowerCase).isDefined =>
        val mc = lookup(name.toLowerCase).get
        val bodySet = mc.body.getOrElse(
          fail(s"macro '$name' is scalar — a FROM-position call " +
            "needs a TABLE macro (CREATE MACRO … AS TABLE …)"))
        if (d >= MaxDepth)
          fail(s"macro expansion exceeds depth $MaxDepth at " +
            s"'$name' (self- or mutually-recursive macros)")
        SubqueryRel(set(bodySet, bind(mc, args.map(expr(_, env, d)), d + 1), d + 1),
          alias.orElse(Some(name)))
      // any other call (the builtin series generators) passes through
      // to the translator with its arguments expanded
    })

  /** Top-down lexical walk (NOT transformUp): lambda parameters
    * SHADOW same-named macro parameters inside their body (`CREATE
    * MACRO f(x) AS transform(a, x -> x + 1)` keeps the lambda's x),
    * and substituted argument subtrees are emitted verbatim — never
    * re-walked — so an argument that happens to name another
    * parameter is never re-substituted (capture-free). */
  private def expr(e: Expr, env: Map[String, Expr], d: Int): Expr =
    e match {
      case Lambda(ps, b) =>
        Lambda(ps, expr(b, env -- ps.map(_.toLowerCase), d))
      case ColRef(None, n) if env.contains(n.toLowerCase) =>
        env(n.toLowerCase)
      case ScalarSubquery(sub) => ScalarSubquery(set(sub, env, d))
      case ExistsSubquery(sub) => ExistsSubquery(set(sub, env, d))
      case InSubquery(x, sub) =>
        InSubquery(expr(x, env, d), set(sub, env, d))
      case QuantCmp(op, all, x, sub) =>
        QuantCmp(op, all, expr(x, env, d), set(sub, env, d))
      case FuncCall(name, args0) if isScalarMacro(name) =>
        val args = args0.map(expr(_, env, d))
        val mc = lookup(name.toLowerCase).get
        if (d >= MaxDepth)
          fail(s"macro expansion exceeds depth $MaxDepth at '$name' " +
            "(self- or mutually-recursive macros)")
        // the body expands under the fresh parameter env only —
        // caller bindings never leak in (lexical, not dynamic, scope)
        expr(mc.body.swap.getOrElse(fail(
          s"macro '$name' is a TABLE macro — call it in FROM position")),
          bind(mc, args, d + 1), d + 1)
      case other => Ast.mapChildren(other, expr(_, env, d))
    }

  private def isScalarMacro(name: String): Boolean =
    lookup(name.toLowerCase).isDefined
}
