package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** One-pass frame-EXCLUDE aggregation over a collected window frame
  * (r8): evaluates `func([DISTINCT] v)` over the frame elements
  * `(ok, rid, v)` minus the EXCLUDE-mode rows — one JVM call per row
  * where a filter→transform→distinct→fold HOF chain pays interpreted
  * lambda dispatch per element per link (measured 5.4 s for six such
  * columns over lineitem, ~3× this expression). CodegenFallback:
  * window aggregates aren't codegen'd anyway and the per-row (not
  * per-element) interpreted dispatch is the win.
  *
  * Exclusion semantics (the DuckDB-native oracle
  * q_window_exclude_ext pins them):
  *  - current row: remove the FIRST element whose rid equals the
  *    current row's (rows equal in (ok, v) are interchangeable);
  *  - group: remove every element whose ok tuple equals the current
  *    row's null-safely;
  *  - ties: remove the peers, then add ONE copy of the current row.
  * Then the survivors fold through [[ExcludeAgg.fold]]. avg stays
  * composed at the Column level (sum / count) so its division typing
  * is the engine's. */
case class ExcludeAgg(lst: Expression, cur: Expression, mode: String,
                      func: String, distinct: Boolean)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = lst
  override def right: Expression = cur
  override def prettyName: String = "graft_exclude_agg"
  // an empty survivor set reads NULL even over non-null children
  override def nullable: Boolean = true

  private def elemType: StructType = lst.dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private def okType: DataType = elemType.fields(0).dataType
  private def vType: DataType = elemType.fields(2).dataType

  // r9: "collect" returns the post-exclusion frame elements in frame
  // order, feeding the ordered-set collects' comparator-sort
  // projection (string_agg/array_agg + EXCLUDE)
  override def dataType: DataType =
    if (func == "collect") ArrayType(vType, containsNull = true)
    else ExcludeAgg.foldType(func, vType)

  override def checkInputDataTypes(): TypeCheckResult =
    (lst.dataType, cur.dataType) match {
      case (ArrayType(s: StructType, _), c: StructType)
          if s.length == 3 && c.length == 3 =>
        if (func == "collect") TypeCheckResult.TypeCheckSuccess
        else ExcludeAgg.checkFold(func, vType, prettyName)
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_exclude_agg expects (array<struct3>, struct3), got $other")
    }

  @transient private lazy val okOrd: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(okType)
  @transient private lazy val vOrd: Ordering[Any] =
    ExcludeAgg.ordering(func, vType)

  override def nullSafeEval(lstV: Any, curV: Any): Any = {
    val arr = lstV.asInstanceOf[ArrayData]
    val c = curV.asInstanceOf[InternalRow]
    val curOk = c.get(0, okType)
    val curRid = c.getLong(1)
    val curVal = if (c.isNullAt(2)) null else c.get(2, vType)
    val n = arr.numElements()
    // the included values, frame order (plus the ties re-add)
    val vals = new java.util.ArrayList[Any](n)
    var removedCurrent = false
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, 3)
      val excl = mode match {
        case "current row" =>
          if (!removedCurrent && e.getLong(1) == curRid) {
            removedCurrent = true; true
          } else false
        case _ => // group | ties
          okOrd.compare(e.get(0, okType), curOk) == 0
      }
      // scalar folds drop null values (they are invisible to the
      // aggregate); collect keeps them — the downstream projection
      // owns null handling (string_agg filters, array_agg keeps)
      if (!excl && (func == "collect" || !e.isNullAt(2)))
        vals.add(if (e.isNullAt(2)) null else e.get(2, vType))
      i += 1
    }
    if (mode == "ties" && (curVal != null || func == "collect"))
      vals.add(curVal)
    val it = if (distinct) ExcludeAgg.firstOccurrences(vals) else vals.iterator()
    if (func == "collect") {
      val out = new java.util.ArrayList[Any](vals.size)
      while (it.hasNext) out.add(it.next())
      new GenericArrayData(out.toArray)
    } else ExcludeAgg.fold(func, vType, vOrd, it)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExcludeAgg =
    copy(lst = newLeft, cur = newRight)
}

/** `func` over the non-null elements of an array in array order —
  * the windowed DISTINCT fold over `collect_set(v) OVER w` (the set is
  * already distinct, so per-row state stays bounded by the frame's
  * distinct values). Shares [[ExcludeAgg.fold]], so its result type
  * and arithmetic are the EXCLUDE fold's. */
case class FrameFold(child: Expression, func: String)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "graft_frame_fold"
  override def nullable: Boolean = true

  private def vType: DataType = child.dataType.asInstanceOf[ArrayType].elementType
  override def dataType: DataType = ExcludeAgg.foldType(func, vType)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) => ExcludeAgg.checkFold(func, t, prettyName)
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array, got $other")
  }

  @transient private lazy val vOrd: Ordering[Any] = ExcludeAgg.ordering(func, vType)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val vals = new java.util.ArrayList[Any](arr.numElements())
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) vals.add(arr.get(i, vType))
      i += 1
    }
    ExcludeAgg.fold(func, vType, vOrd, vals.iterator())
  }

  override protected def withNewChildInternal(newChild: Expression): FrameFold =
    copy(child = newChild)
}

object ExcludeAgg {

  /** The engine's own result type for `func(v)`: sums widen integral
    * to bigint and decimal(p,s) to decimal(38,s), as Spark's SUM does. */
  def foldType(func: String, vType: DataType): DataType = func match {
    case "count" => LongType
    case "min" | "max" => vType
    case "sum" => vType match {
      case ByteType | ShortType | IntegerType | LongType => LongType
      case d: DecimalType => DecimalType(38, d.scale)
      case _ => DoubleType
    }
    case other => throw new IllegalArgumentException(
      s"graft_exclude_agg does not implement $other")
  }

  def checkFold(func: String, vType: DataType, name: String): TypeCheckResult =
    (func, vType) match {
      case ("count", _) => TypeCheckResult.TypeCheckSuccess
      case ("min" | "max", t) => TypeUtils.checkForOrderingExpr(t, name)
      case ("sum", ByteType | ShortType | IntegerType | LongType |
                   FloatType | DoubleType | _: DecimalType) =>
        TypeCheckResult.TypeCheckSuccess
      case (f, t) => TypeCheckResult.TypeCheckFailure(s"$name cannot fold $f over $t")
    }

  def ordering(func: String, vType: DataType): Ordering[Any] =
    if (func == "min" || func == "max") TypeUtils.getInterpretedOrdering(vType)
    else null

  /** First occurrences, with -0.0 and 0.0 one value (JVM equality
    * separates them, Catalyst's array_distinct unifies them). */
  def firstOccurrences(vals: java.util.List[Any]): java.util.Iterator[Any] = {
    val seen = new java.util.HashSet[Any](vals.size * 2)
    val out = new java.util.ArrayList[Any](vals.size)
    val vi = vals.iterator()
    while (vi.hasNext) {
      val v = vi.next()
      val key = v match {
        case d: java.lang.Double if d.doubleValue == 0.0d => java.lang.Double.valueOf(0.0d)
        case f: java.lang.Float if f.floatValue == 0.0f => java.lang.Float.valueOf(0.0f)
        case o => o
      }
      if (seen.add(key)) out.add(v)
    }
    out.iterator()
  }

  /** Folds `func` over non-null values IN ITERATION ORDER (an empty
    * input reads NULL, except count's 0). Sums are ANSI-faithful: long
    * overflow and decimal(38,s) overflow throw. */
  def fold(func: String, vType: DataType, vOrd: Ordering[Any],
           it: java.util.Iterator[Any]): Any = func match {
    case "count" =>
      var k = 0L; while (it.hasNext) { it.next(); k += 1 }; k
    case "min" | "max" =>
      var best: Any = null
      val sign = if (func == "min") -1 else 1
      while (it.hasNext) {
        val v = it.next()
        if (best == null || vOrd.compare(v, best) * sign > 0) best = v
      }
      best
    case "sum" =>
      if (!it.hasNext) null
      else vType match {
        case ByteType | ShortType | IntegerType | LongType =>
          var acc = 0L
          while (it.hasNext) acc = Math.addExact(acc, it.next().asInstanceOf[Number].longValue)
          acc
        case d: DecimalType =>
          var acc = java.math.BigDecimal.ZERO
          while (it.hasNext)
            acc = acc.add(it.next().asInstanceOf[Decimal].toJavaBigDecimal)
          val out = Decimal(acc)
          if (!out.changePrecision(38, d.scale))
            throw new ArithmeticException("graft_exclude_agg: decimal sum overflow")
          out
        case _ =>
          var acc = 0.0
          while (it.hasNext) acc += it.next().asInstanceOf[Number].doubleValue
          acc
      }
  }
}
