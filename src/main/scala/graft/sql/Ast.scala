package graft.sql

/** Typed AST for the graft SQL dialect.
  *
  * Surface mirrors the reference grammar
  * (/root/reference/sql_to_ibis/grammar/sql.lark:1-163): SELECT with
  * projection/aliases/DISTINCT, FROM with joins + subqueries, WHERE,
  * GROUP BY, HAVING, ORDER BY, LIMIT/OFFSET, set operations, CASE,
  * CAST, COALESCE, aggregates, RANK/DENSE_RANK and aggregate windows
  * with ROWS/RANGE frames.
  */
object Ast {

  // ---- scalar / boolean expressions ---------------------------------
  sealed trait Expr

  /** Column reference, optionally table-qualified (sql.lark:71,82). */
  final case class ColRef(qualifier: Option[String], name: String) extends Expr
  /** `*` or `t.*` (sql.lark:82,143). */
  final case class Star(qualifier: Option[String]) extends Expr
  /** `* EXCLUDE (a, b) REPLACE (expr AS c)` star modifiers (DuckDB
    * convenience) — only ever produced in select-item position;
    * `replace` keeps the column's original position and name. */
  final case class StarMod(qualifier: Option[String], exclude: Seq[String],
                           replace: Seq[(Expr, String)]) extends Expr
  final case class NumLit(text: String) extends Expr
  /** NULL literal — graft dialect extension (reference literals are
    * bool/number/string/timestamp only, sql.lark:132-138). */
  final case class NullLit() extends Expr
  final case class StrLit(value: String) extends Expr
  final case class BoolLit(value: Boolean) extends Expr
  /** NOW() / TODAY() / TIMESTAMP('d','t') (sql.lark:145-147). */
  final case class NowLit() extends Expr
  final case class TodayLit() extends Expr
  final case class TimestampLit(date: String, time: String) extends Expr
  /** `DATE '1994-01-01'` typed literal — graft dialect extension
    * (standard SQL; the reference grammar has no date literals). */
  final case class DateLit(value: String) extends Expr
  /** `INTERVAL [']n['] unit [n unit ...]` literal, normalized at parse
    * to (months, days, seconds) — the SQL interval triple (weeks fold
    * into days, years into months, hours/minutes into seconds). Only
    * valid as a `+`/`-` operand against a date/timestamp; the
    * translator lowers the arithmetic, never the literal alone. */
  final case class IntervalLit(months: Long, days: Long,
                               seconds: Long) extends Expr

  /** Binary arithmetic: + - * / (sql.lark:40-80). */
  final case class Arith(op: String, left: Expr, right: Expr) extends Expr
  final case class Neg(e: Expr) extends Expr

  /** CASE WHEN ... THEN ... ELSE ... END (sql.lark:43,67). */
  final case class CaseWhen(branches: Seq[(Expr, Expr)], otherwise: Expr) extends Expr
  /** CAST(e AS type) (sql.lark:44-45,87-106). */
  /** `safe`: TRY_CAST (r7b, DuckDB/Spark dialect) — NULL on
    * conversion failure instead of an error. */
  final case class Cast(e: Expr, typeName: String,
                        safe: Boolean = false) extends Expr
  final case class Coalesce(args: Seq[Expr]) extends Expr

  /** sum/avg/min/max/count aggregate, optionally windowed (sql.lark:46,107).
    * r5 extensions: `extraArgs` carries arguments beyond the first for
    * multi-argument aggregates (corr/covar/max_by/min_by/string_agg),
    * `aggOrder` the ORDER BY inside an ordered-set aggregate
    * (string_agg/array_agg) — both empty for the reference surface. */
  final case class AggExpr(func: String, distinct: Boolean, arg: Expr,
                           window: Option[WindowSpec],
                           extraArgs: Seq[Expr] = Nil,
                           aggOrder: Seq[OrderItem] = Nil) extends Expr
  /** RANK()/DENSE_RANK() OVER (...) (sql.lark:47-48). */
  final case class RankExpr(dense: Boolean, window: WindowSpec) extends Expr

  /** Generic window function call — graft extension beyond the
    * reference grammar: lead/lag/first_value/last_value/row_number
    * OVER (...). */
  final case class WinFunc(name: String, args: Seq[Expr],
                           window: WindowSpec,
                           ignoreNulls: Boolean = false) extends Expr

  /** Generic scalar function call — extension beyond the reference
    * grammar for the pipeline operators (lower/upper/length/...). */
  final case class FuncCall(name: String, args: Seq[Expr]) extends Expr

  /** Lambda argument of a higher-order function (r7b, DuckDB/Spark
    * dialect): `x -> x + 1`, `(x, i) -> ...` — valid only as a
    * direct argument of transform/filter/aggregate and their
    * list_* spellings. Params bind tighter than column names. */
  final case class Lambda(params: Seq[String], body: Expr) extends Expr

  /** Postfix array/map subscript `e[i]` (r11, DuckDB/Spark/Postgres
    * sugar): 1-based for arrays; lowers to try_element_at so an
    * out-of-range index reads NULL (DuckDB's behavior), chains as
    * `a[i][j]`, and composes with any primary (`split(t,' ')[1]`). */
  final case class Subscript(e: Expr, index: Expr) extends Expr

  /** Postfix struct-field access `expr.field` BEYOND the two-segment
    * `a.b` (r11): `a.b.c` chains and fields of computed values. The
    * two-segment form stays a qualified [[ColRef]] — Spark resolves
    * table-alias-vs-struct-column there (alias wins, as in DuckDB). */
  final case class FieldAccess(e: Expr, field: String) extends Expr

  /** Postfix list slice `e[lo:hi]` (r11b, DuckDB list slicing):
    * 1-based INCLUSIVE bounds, either omittable (`a[2:]`, `a[:3]`,
    * `a[:]`); negative bounds count from the end (`a[-2:]` is the
    * last two, norm = len + bound + 1); lo clamps up to 1, hi clamps
    * down to len; an inverted or past-the-end range reads EMPTY (not
    * NULL, not an error); a NULL list or NULL bound reads NULL. */
  final case class ArraySlice(e: Expr, lo: Option[Expr],
                              hi: Option[Expr]) extends Expr

  // boolean operators (sql.lark:112-131)
  final case class And(l: Expr, r: Expr) extends Expr
  final case class Or(l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr) extends Expr
  final case class Cmp(op: String, l: Expr, r: Expr) extends Expr
  /** Row-value constructor `(a, b, ...)` (r9) — legal only as a
    * comparison operand (`(a,b) = (c,d)`, lexicographic `<`), an IN
    * probe/list element, or an IN-subquery probe; anywhere else is a
    * loud error at translation. */
  final case class RowTuple(items: Seq[Expr]) extends Expr
  final case class Between(e: Expr, lo: Expr, hi: Expr) extends Expr
  final case class InList(e: Expr, values: Seq[Expr], negated: Boolean) extends Expr
  final case class InSubquery(e: Expr, sub: SetExpr) extends Expr
  /** Quantified comparison `e op ANY/SOME/ALL (subquery)` — graft
    * dialect extension (standard SQL 8.9). The parser canonicalizes
    * `= ANY` to [[InSubquery]] and `<> ALL` to NOT IN, so `op` here is
    * never those forms; `all` = false means ANY/SOME. */
  final case class QuantCmp(op: String, all: Boolean, e: Expr,
                            sub: SetExpr) extends Expr
  /** Uncorrelated scalar subquery in expression position — graft
    * dialect extension (must produce one row, one column). */
  final case class ScalarSubquery(sub: SetExpr) extends Expr
  /** [NOT] EXISTS (subquery) — graft dialect extension. Correlated
    * predicates inside the subquery must qualify outer columns with
    * the outer relation's alias/name. */
  final case class ExistsSubquery(sub: SetExpr) extends Expr
  final case class IsNull(e: Expr, negated: Boolean) extends Expr
  /** `escape`: the `LIKE ... ESCAPE 'c'` character (graft dialect
    * extension, standard SQL) — when set the pattern lowers through a
    * regex so escaped wildcards match literally. */
  final case class Like(e: Expr, pattern: String,
                        escape: Option[Char] = None) extends Expr
  /** Case-insensitive LIKE — graft dialect extension. */
  final case class ILike(e: Expr, pattern: String,
                         escape: Option[Char] = None) extends Expr

  // ---- windows (sql.lark:51-65) -------------------------------------
  /** `ref`: a named-window reference (`OVER w`) — resolved against the
    * SELECT's WINDOW clause by the translator; partition/order/frame
    * are empty until then. The reference grammar's window_definition
    * is literally empty (sql.lark:144); named definitions with real
    * content are a graft dialect extension. */
  /** `exclude`: the standard frame-exclusion clause (r5c) — one of
    * "no others" (default), "current row", "group", "ties". Parsed
    * only after a frame extent, as the standard requires. */
  final case class WindowSpec(partitionBy: Seq[Expr], orderBy: Seq[OrderItem],
                              frame: Option[Frame],
                              ref: Option[String] = None,
                              exclude: String = "no others")
  /** `isGroups`: the standard GROUPS frame mode (r7b, graft dialect
    * extension — Spark has no GROUPS frame type). Carried orthogonally
    * to `isRows` (isGroups=true ⇒ isRows=false); the translator lowers
    * it to a RANGE frame over a hidden dense_rank ordinal before the
    * spec reaches Spark. */
  final case class Frame(isRows: Boolean, start: FrameBound, end: FrameBound,
                         isGroups: Boolean = false)
  sealed trait FrameBound
  case object UnboundedPreceding extends FrameBound
  case object UnboundedFollowing extends FrameBound
  case object CurrentRow extends FrameBound
  final case class Preceding(n: Long) extends FrameBound
  final case class Following(n: Long) extends FrameBound

  /** nullsFirst: None = engine default (Spark: NULLS FIRST when asc,
    * NULLS LAST when desc); Some = explicit NULLS FIRST/LAST — graft
    * dialect extension pinning cross-engine null placement. */
  final case class OrderItem(e: Expr, asc: Boolean,
                             nullsFirst: Option[Boolean] = None)

  // ---- relations (sql.lark:28-38) -----------------------------------
  sealed trait Relation
  final case class TableRef(name: String, alias: Option[String]) extends Relation
  /** FROM-position table function (r10, DuckDB dialect):
    * `read_parquet('path') [AS] t` and the csv/json/text siblings —
    * the path may be a glob (the reader expands it). */
  final case class TableFnRel(fn: String, path: String,
                              header: Option[Boolean],
                              alias: Option[String]) extends Relation
  final case class SubqueryRel(q: SetExpr, alias: Option[String]) extends Relation
  /** FROM-position generic call `name(arg, …) [AS] t` (r11c): either
    * a TABLE MACRO invocation (expanded to its body before
    * translation — [[MacroExpander]]) or a builtin series generator
    * (`generate_series`/`range`, lowered natively). Unknown names
    * fail loudly at translation. */
  final case class MacroCallRel(fn: String, args: Seq[Expr],
                                alias: Option[String]) extends Relation
  /** `(VALUES (…), (…)) [AS] t [(col, …)]` inline table — graft
    * dialect extension. Column names default to col0, col1, …
    * (DuckDB convention) when no list is given. */
  final case class ValuesRel(rows: Seq[Seq[Expr]], colNames: Option[Seq[String]],
                             alias: Option[String]) extends Relation
  /** joinType: inner|left|right|full|cross. on=None for cross. */
  final case class JoinRel(left: Relation, right: Relation, joinType: String,
                           on: Option[Expr]) extends Relation
  /** POSITIONAL JOIN (r11c, DuckDB): pairs the two sides row-by-row
    * in their order; the shorter side null-pads. Meaningful when each
    * side carries a defined order (an ORDER BY'd subquery, a
    * single-file scan). */
  final case class PositionalJoinRel(left: Relation,
                                     right: Relation) extends Relation
  /** Aliased parenthesized join group: `(a join b on ...) name`
    * (sql.lark:33). */
  final case class AliasedRel(rel: Relation, alias: String) extends Relation
  /** JOIN ... USING (cols) — graft dialect extension; output carries
    * one copy of each using-column (standard USING semantics). */
  final case class UsingJoinRel(left: Relation, right: Relation,
                                joinType: String,
                                cols: Seq[String]) extends Relation

  /** NATURAL [INNER|LEFT|RIGHT|FULL] JOIN (r5) — the using-columns are
    * every same-named column pair, resolved at translation when both
    * schemas are known. */
  final case class NaturalJoinRel(left: Relation, right: Relation,
                                  joinType: String) extends Relation

  /** ASOF [LEFT] JOIN (r7b, DuckDB dialect): for each left row the
    * SINGLE nearest right row within equal keys — the ON condition is
    * equality conjuncts plus exactly ONE inequality, which names the
    * time columns and picks the direction (`l.t >= r.t` = backward:
    * latest right at-or-before; `<=` = forward; strict ops exclude
    * equal times). `leftOuter` keeps unmatched left rows with NULLs. */
  final case class AsofJoinRel(left: Relation, right: Relation,
                               leftOuter: Boolean, on: Expr) extends Relation

  /** [CROSS] JOIN LATERAL (SELECT ... WHERE inner.k = outer.k) alias
    * (r5) — correlated derived tables in two restricted forms, both
    * decorrelated (never per-row re-execution):
    *  - aggregate subqueries (exactly one row per outer row, so
    *    CROSS/INNER/LEFT spellings are equivalent) — grouped
    *    decorrelation;
    *  - top-n subqueries (`ORDER BY ... LIMIT n`, plain items) —
    *    row_number window partitioned by the correlation keys.
    * `kind` distinguishes INNER (CROSS/INNER/comma spellings) from
    * LEFT JOIN LATERAL ... ON TRUE, which differ only for top-n
    * (outer rows with no inner rows survive with NULLs). */
  final case class LateralRel(left: Relation, sub: SetExpr,
                              alias: String,
                              kind: String = "inner") extends Relation

  /** Deterministic sampling clause (r5b): `FROM t USING SAMPLE p%
    * KEY (col)` — DuckDB's clause spelling with an explicit hash key
    * (md5-threshold membership), so the sample is reproducible across
    * runs, engines and partitionings and MONOTONE in the fraction.
    * A keyless (rand-based) sample is a loud error — repo
    * reproducibility contract. */
  final case class SampleRel(rel: Relation, percent: Double,
                             key: String) extends Relation

  /** FROM-position unnest (r5b, PostgreSQL/DuckDB form):
    * `FROM t, unnest(t.arr) [WITH ORDINALITY] [AS] u [(x [, ord])]`
    * — one output row per array element, lowered to a Generate
    * (explode / posexplode) over the left relation; `left` None is
    * the uncorrelated `FROM unnest(expr)` form. `kind` "left" (LEFT
    * JOIN unnest ... ON TRUE) keeps rows whose array is empty or
    * NULL via explode_outer. Ordinality is 1-based. */
  final case class UnnestRel(left: Option[Relation], arr: Expr,
                             alias: Option[String], cols: Seq[String],
                             ordinality: Boolean,
                             kind: String = "inner") extends Relation

  /** FROM ... PIVOT (agg [AS a] [, agg2 AS b ...] FOR col IN
    * (v [AS name], ...)) (r5; multi-aggregate r5b). Implicit
    * group-by: every column the aggregates and the FOR column don't
    * use (Spark SQL / Snowflake semantics). With several aggregates
    * each needs an alias; cells are named value_aggAlias. */
  final case class PivotRel(rel: Relation,
                            aggs: Seq[(Expr, Option[String])],
                            forCol: String,
                            values: Seq[(Expr, Option[String])])
      extends Relation

  /** FROM ... UNPIVOT (val FOR name IN (col [AS 'label'], ...)) (r5).
    * NULL values are KEPT (Spark stack semantics; DuckDB drops them —
    * add a WHERE val IS NOT NULL for that behavior). */
  final case class UnpivotRel(rel: Relation, valueName: String,
                              varName: String,
                              cols: Seq[(String, Option[String])])
      extends Relation

  // ---- query structure (sql.lark:3-12) ------------------------------
  final case class SelectItem(e: Expr, alias: Option[String])
  /** groupMode: "plain" | "rollup" | "cube" (rollup/cube are graft
    * dialect extensions over Spark's native grouping-set support).
    * qualify: post-window filter (QUALIFY clause — graft dialect
    * extension matching DuckDB/Snowflake/BigQuery; evaluated after
    * select items and window functions, before DISTINCT).
    * groupSets (groupMode "sets"): explicit GROUPING SETS — groupBy
    * holds the flattened distinct key union, groupSets the sets. */
  final case class Select(distinct: Boolean, items: Seq[SelectItem],
                          from: Relation, where: Option[Expr],
                          groupBy: Seq[Expr], having: Option[Expr],
                          groupMode: String = "plain",
                          qualify: Option[Expr] = None,
                          groupSets: Seq[Seq[Expr]] = Nil,
                          windows: Seq[(String, WindowSpec)] = Nil,
                          distinctOn: Seq[Expr] = Nil)
  final case class Query(sel: Select, orderBy: Seq[OrderItem],
                         limit: Option[Long], offset: Option[Long],
                         fetchTies: Boolean = false)

  sealed trait SetExpr
  final case class Leaf(q: Query) extends SetExpr
  /** op: union|union_all|intersect|except|except_all (sql.lark:4-8). */
  final case class SetOp(op: String, l: SetExpr, r: SetExpr) extends SetExpr
  /** WITH [RECURSIVE] ctes body — graft extension (the reference
    * grammar has no CTEs); each CTE sees the ones defined before it.
    * r5: `recursive` marks the WITH RECURSIVE form (self-referencing
    * `base UNION [ALL] step` definitions iterate to a fixpoint);
    * `cteCols` carries each CTE's optional column-name list. */
  final case class WithQuery(ctes: Seq[(String, SetExpr)],
                             body: SetExpr,
                             recursive: Boolean = false,
                             cteCols: Seq[Option[Seq[String]]] = Nil)
      extends SetExpr
  /** ORDER BY / LIMIT / OFFSET applied to a whole set-op result
    * (standard SQL binding for a tail after UNION/INTERSECT/EXCEPT). */
  final case class OrderedSet(body: SetExpr, orderBy: Seq[OrderItem],
                              limit: Option[Long],
                              offset: Option[Long],
                              fetchTies: Boolean = false) extends SetExpr

  // ---- generic traversal --------------------------------------------
  //
  // Every expression walk in the translator derives from mapChildren —
  // the ONE place that knows the tree's shape. Round 2 shipped five
  // hand-rolled recursions and two of its bugs were "a traversal
  // missed a node type"; with this fold a new Expr case needs exactly
  // one new line (here), and forgetting it is a compile-time
  // non-exhaustive-match warning rather than a silent skip.

  /** Placeholder child used by [[sameShape]] to erase subtrees. Never
    * appears in parsed ASTs. */
  private[sql] case object Hole extends Expr

  private def mapWindow(w: WindowSpec, f: Expr => Expr): WindowSpec =
    w.copy(partitionBy = w.partitionBy.map(f),
           orderBy = w.orderBy.map(oi => oi.copy(e = f(oi.e))))

  /** Rebuilds `e` with `f` applied to every DIRECT child expression,
    * including window partition/order keys. Subquery bodies are
    * `SetExpr`s, not `Expr`s, and stay opaque (the translator lowers
    * them through its own `translate`); an `InSubquery`'s probe IS a
    * child. Leaves (refs, literals, subquery atoms) return unchanged. */
  def mapChildren(e: Expr, f: Expr => Expr): Expr = e match {
    case Arith(op, l, r)      => Arith(op, f(l), f(r))
    case Neg(x)               => Neg(f(x))
    case CaseWhen(bs, o)      => CaseWhen(bs.map { case (c, v) => (f(c), f(v)) }, f(o))
    case Cast(x, t, sf)       => Cast(f(x), t, sf)
    case Coalesce(args)       => Coalesce(args.map(f))
    case ag: AggExpr =>
      ag.copy(arg = f(ag.arg), window = ag.window.map(mapWindow(_, f)),
              extraArgs = ag.extraArgs.map(f),
              aggOrder = ag.aggOrder.map(oi => oi.copy(e = f(oi.e))))
    case RankExpr(d, w)       => RankExpr(d, mapWindow(w, f))
    case wf: WinFunc =>
      wf.copy(args = wf.args.map(f), window = mapWindow(wf.window, f))
    case FuncCall(n, args)    => FuncCall(n, args.map(f))
    case Lambda(ps, b)        => Lambda(ps, f(b))
    case Subscript(x, i)      => Subscript(f(x), f(i))
    case FieldAccess(x, n)    => FieldAccess(f(x), n)
    case ArraySlice(x, lo, hi) => ArraySlice(f(x), lo.map(f), hi.map(f))
    case And(l, r)            => And(f(l), f(r))
    case Or(l, r)             => Or(f(l), f(r))
    case Not(x)               => Not(f(x))
    case Cmp(op, l, r)        => Cmp(op, f(l), f(r))
    case RowTuple(items)      => RowTuple(items.map(f))
    case Between(x, lo, hi)   => Between(f(x), f(lo), f(hi))
    case InList(x, vs, n)     => InList(f(x), vs.map(f), n)
    case InSubquery(x, sub)   => InSubquery(f(x), sub)
    case QuantCmp(op, a, x, sub) => QuantCmp(op, a, f(x), sub)
    case StarMod(q, ex, rep)  =>
      StarMod(q, ex, rep.map { case (e, n) => (f(e), n) })
    case IsNull(x, n)         => IsNull(f(x), n)
    case Like(x, p, esc)      => Like(f(x), p, esc)
    case ILike(x, p, esc)     => ILike(f(x), p, esc)
    case leaf @ (ColRef(_, _) | Star(_) | NumLit(_) | NullLit() | StrLit(_) |
         BoolLit(_) | NowLit() | TodayLit() | TimestampLit(_, _) |
         DateLit(_) | IntervalLit(_, _, _) |
         ScalarSubquery(_) | ExistsSubquery(_) | Hole) => leaf
  }

  /** Direct child expressions of `e`, in [[mapChildren]] order. */
  def children(e: Expr): Seq[Expr] = {
    val buf = Seq.newBuilder[Expr]
    mapChildren(e, { c => buf += c; c })
    buf.result()
  }

  /** Bottom-up rewrite: children first, then `pf` on the rebuilt node.
    * Nodes produced by `pf` are NOT re-traversed (substitutions are
    * final), so sibling rewrites fire deterministically left-to-right. */
  def transformUp(e: Expr)(pf: PartialFunction[Expr, Expr]): Expr = {
    def go(x: Expr): Expr = {
      val rebuilt = mapChildren(x, go)
      pf.applyOrElse(rebuilt, identity[Expr])
    }
    go(e)
  }

  /** True when `a` and `b` are the same constructor with equal
    * non-child fields — children erased before comparing. */
  def sameShape(a: Expr, b: Expr): Boolean =
    mapChildren(a, _ => Hole) == mapChildren(b, _ => Hole)

  /** [[transformUp]] that also rewrites inside subquery bodies (IN,
    * EXISTS, scalar and quantified subqueries): every expression of
    * every query they hold goes through the same rewrite. */
  def transformDeep(e: Expr)(pf: PartialFunction[Expr, Expr]): Expr = {
    def go(x: Expr): Expr = {
      val rebuilt = mapChildren(x, go) match {
        case ScalarSubquery(s)     => ScalarSubquery(mapExprs(s, go))
        case ExistsSubquery(s)     => ExistsSubquery(mapExprs(s, go))
        case InSubquery(p, s)      => InSubquery(p, mapExprs(s, go))
        case QuantCmp(op, a, p, s) => QuantCmp(op, a, p, mapExprs(s, go))
        case other                 => other
      }
      pf.applyOrElse(rebuilt, identity[Expr])
    }
    go(e)
  }

  /** `s` with `f` applied to each top-level expression of each query
    * it holds (select items, conditions, keys, orderings, VALUES rows,
    * call arguments), FROM subqueries and CTEs included. A relation
    * `rels` is defined at is replaced by its result, which is not
    * walked further. */
  def mapExprs(s: SetExpr, f: Expr => Expr,
               rels: PartialFunction[Relation, Relation] = PartialFunction.empty): SetExpr = {
    def order(os: Seq[OrderItem]) = os.map(o => o.copy(e = f(o.e)))
    def window(w: WindowSpec) =
      w.copy(partitionBy = w.partitionBy.map(f), orderBy = order(w.orderBy))
    def pairs(ps: Seq[(Expr, Option[String])]) = ps.map { case (e, a) => (f(e), a) }
    def rel(r: Relation): Relation = if (rels.isDefinedAt(r)) rels(r) else r match {
      case TableRef(_, _) | TableFnRel(_, _, _, _) => r
      case MacroCallRel(n, args, a)  => MacroCallRel(n, args.map(f), a)
      case SubqueryRel(q, a)         => SubqueryRel(set(q), a)
      case ValuesRel(rows, cs, a)    => ValuesRel(rows.map(_.map(f)), cs, a)
      case JoinRel(l, rt, jt, on)    => JoinRel(rel(l), rel(rt), jt, on.map(f))
      case PositionalJoinRel(l, rt)  => PositionalJoinRel(rel(l), rel(rt))
      case AliasedRel(x, a)          => AliasedRel(rel(x), a)
      case UsingJoinRel(l, rt, jt, cs) => UsingJoinRel(rel(l), rel(rt), jt, cs)
      case NaturalJoinRel(l, rt, jt) => NaturalJoinRel(rel(l), rel(rt), jt)
      case AsofJoinRel(l, rt, lo, on) => AsofJoinRel(rel(l), rel(rt), lo, f(on))
      case LateralRel(l, sub, a, k)  => LateralRel(rel(l), set(sub), a, k)
      case SampleRel(x, p, k)        => SampleRel(rel(x), p, k)
      case UnnestRel(l, arr, a, cs, o, k) =>
        UnnestRel(l.map(rel), f(arr), a, cs, o, k)
      case PivotRel(x, aggs, forCol, vs) =>
        PivotRel(rel(x), pairs(aggs), forCol, pairs(vs))
      case UnpivotRel(x, vn, nn, cs) => UnpivotRel(rel(x), vn, nn, cs)
    }
    def query(q: Query): Query = {
      val sel = q.sel
      q.copy(orderBy = order(q.orderBy), sel = sel.copy(
        items = sel.items.map(i => i.copy(e = f(i.e))), from = rel(sel.from),
        where = sel.where.map(f), groupBy = sel.groupBy.map(f),
        having = sel.having.map(f), qualify = sel.qualify.map(f),
        groupSets = sel.groupSets.map(_.map(f)),
        windows = sel.windows.map { case (n, w) => (n, window(w)) },
        distinctOn = sel.distinctOn.map(f)))
    }
    def set(x: SetExpr): SetExpr = x match {
      case Leaf(q)         => Leaf(query(q))
      case SetOp(op, l, r) => SetOp(op, set(l), set(r))
      case WithQuery(ctes, b, rec, cols) =>
        WithQuery(ctes.map { case (n, c) => (n, set(c)) }, set(b), rec, cols)
      case OrderedSet(b, ob, lim, off, t) => OrderedSet(set(b), order(ob), lim, off, t)
    }
    set(s)
  }

  // ---- statements ---------------------------------------------------
  /** A parsed statement ([[Parser.parseStatement]]): registry DDL, DML,
    * MERGE, COPY, PREPARE/EXECUTE, macros, session commands, or a plain
    * query. [[graft.Graft]] lowers each case. Sources of UPDATE ...
    * FROM, DELETE ... USING and MERGE ... USING are a [[TableRef]] or
    * a [[SubqueryRel]]. */
  sealed trait Statement
  object Statement {
    final case class Query(q: SetExpr) extends Statement
    final case class Explain(q: SetExpr) extends Statement
    final case class CreateView(name: String, orReplace: Boolean,
                                q: SetExpr) extends Statement
    final case class CreateTableAs(name: String, orReplace: Boolean,
                                   q: SetExpr) extends Statement
    final case class CreateTable(name: String, orReplace: Boolean,
                                 cols: Seq[ColumnDef]) extends Statement
    /** DROP VIEW and DROP TABLE (one registry, one semantics). */
    final case class Drop(name: String, ifExists: Boolean) extends Statement
    final case class Truncate(name: String) extends Statement
    final case class Alter(name: String, action: AlterAction) extends Statement
    /** `source` is the INSERT's query; a VALUES list parses to
      * `SELECT * FROM (VALUES ...) __ins`. */
    final case class Insert(table: String, cols: Option[Seq[String]],
                            source: SetExpr, onConflict: Option[OnConflict],
                            returning: Seq[SelectItem]) extends Statement
    final case class Update(table: String, alias: Option[String],
                            set: Seq[Assignment], from: Option[Relation],
                            where: Option[Expr],
                            returning: Seq[SelectItem]) extends Statement
    final case class Delete(table: String, alias: Option[String],
                            using: Option[Relation], where: Expr,
                            returning: Seq[SelectItem]) extends Statement
    final case class Merge(table: String, alias: Option[String],
                           using: Relation, on: Expr,
                           clauses: Seq[MergeClause]) extends Statement
    /** `source`: Left = a registered table, Right = a query. */
    final case class CopyTo(source: Either[String, SetExpr], path: String,
                            options: Seq[CopyOption]) extends Statement
    final case class CopyFrom(table: String, path: String,
                              options: Seq[CopyOption]) extends Statement
    final case class ExportDatabase(dir: String,
                                    options: Seq[CopyOption]) extends Statement
    final case class ImportDatabase(dir: String,
                                    options: Seq[CopyOption]) extends Statement
    /** `body` is the statement's token text, `$n` / `?` placeholders
      * included: EXECUTE binds them by token substitution, since a
      * placeholder may stand where the grammar takes an integer. */
    final case class Prepare(name: String, body: String) extends Statement
    /** `args`: the token text of each argument expression. */
    final case class Execute(name: String, args: Seq[String]) extends Statement
    final case class Deallocate(name: String) extends Statement
    /** `body`: Left = scalar expression, Right = TABLE macro query. */
    final case class CreateMacro(name: String, orReplace: Boolean,
                                 params: Seq[MacroParam],
                                 body: Either[Expr, SetExpr]) extends Statement
    final case class DropMacro(name: String, ifExists: Boolean) extends Statement
    final case class Describe(name: String) extends Statement
    case object ShowTables extends Statement
    final case class SetConf(key: String, value: String) extends Statement
    final case class Reset(key: String) extends Statement
    /** `source`: Left = a registered table, Right = a query. */
    final case class Summarize(source: Either[String, SetExpr]) extends Statement
  }

  final case class ColumnDef(name: String, typeName: String)
  sealed trait AlterAction
  /** `ifNotExists`: ADD COLUMN IF NOT EXISTS — an existing column is
    * left as it is. */
  final case class AddColumn(col: ColumnDef, ifNotExists: Boolean)
      extends AlterAction
  /** `ifExists`: DROP COLUMN IF EXISTS — a missing column is no error. */
  final case class DropColumn(name: String, ifExists: Boolean)
      extends AlterAction
  final case class RenameColumn(from: String, to: String) extends AlterAction
  final case class RenameTable(to: String) extends AlterAction

  /** `col = e` in a SET list; `col` may carry a qualifier. */
  final case class Assignment(col: ColRef, e: Expr)
  /** ON CONFLICT [(keys)] DO NOTHING (`set` None) | DO UPDATE SET ... */
  final case class OnConflict(keys: Option[Seq[String]],
                              set: Option[Seq[Assignment]])

  /** WHEN [NOT] MATCHED [BY SOURCE|TARGET] [AND cond] THEN action. */
  final case class MergeClause(kind: MergeKind, cond: Option[Expr],
                               action: MergeAction)
  sealed trait MergeKind
  case object WhenMatched extends MergeKind
  /** NOT MATCHED, NOT MATCHED BY TARGET. */
  case object WhenNotMatched extends MergeKind
  case object WhenNotMatchedBySource extends MergeKind
  sealed trait MergeAction
  case object MergeDelete extends MergeAction
  /** UPDATE SET * */
  case object MergeUpdateAll extends MergeAction
  final case class MergeUpdate(set: Seq[Assignment]) extends MergeAction
  /** INSERT * */
  case object MergeInsertAll extends MergeAction
  final case class MergeInsert(cols: Seq[String],
                               values: Seq[Expr]) extends MergeAction

  /** A COPY / EXPORT / IMPORT option: `FORMAT csv`, `HEADER`,
    * `DELIMITER '|'` (the value's token text, quotes dropped). */
  final case class CopyOption(name: String, value: Option[String])
  /** A macro parameter `p` or `p := default`. */
  final case class MacroParam(name: String, default: Option[Expr])
}
