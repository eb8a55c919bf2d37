package graft.sql

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.types._

/** Differential-test reference for the windowed DISTINCT / EXCLUDE
  * folds ([[graft.functions.ExcludeAgg]], [[graft.functions.FrameFold]]).
  *
  * The r7b/r8 lowering, kept as the reference: the collected frame
  * filtered, projected, deduplicated and folded by Spark's
  * higher-order functions (filter → transform → array_distinct →
  * aggregate), with the sum's accumulator chosen from the argument's
  * type as the translator once probed it. It pays interpreted lambda
  * dispatch per element (measured 5.4 s for six such columns over
  * lineitem, ~3× the native fold). */
object WindowFoldReference {

  /** `func([DISTINCT] arg) OVER (frame EXCLUDE mode)`; `frame` is the
    * window without exclusion, `okCols` its ORDER BY keys. Mode
    * "no others" is the DISTINCT-without-EXCLUDE path. */
  def fold(arg: Column, okCols: Seq[Column], frame: WindowSpec, mode: String,
           func: String, distinct: Boolean, argType: DataType): Column = {
    if (mode == "no others") {
      require(distinct, "the reference covers DISTINCT without EXCLUDE only")
      if (func == "min" || func == "max")
        return (if (func == "min") F.min(arg) else F.max(arg)).over(frame)
      val cs = F.collect_set(arg).over(frame)
      return func match {
        case "count" => F.size(cs).cast("long")
        case "sum" | "avg" =>
          val guarded = F.when(F.size(cs) > 0, typedSum(cs, argType))
          if (func == "sum") guarded else guarded / F.size(cs)
      }
    }
    val okS = if (okCols.isEmpty) F.lit(0) else F.struct(okCols: _*)
    val rid = F.xxhash64(okS, arg)
    val elem = F.struct(okS.as("__xok"), rid.as("__xrid"), arg.as("__xv"))
    val lst = F.collect_list(elem).over(frame)
    val kept: Column = mode match {
      case "current row" =>
        // remove the FIRST element carrying the current row's id
        val idx = F.array_position(
          F.transform(lst, x => x.getField("__xrid")), rid).cast("int")
        F.concat(
          F.slice(lst, F.lit(1), idx - 1),
          F.slice(lst, idx + 1, F.size(lst) - idx))
      case "group" =>
        F.filter(lst, x => !(x.getField("__xok") <=> okS))
      case "ties" =>
        // drop every peer, put ONE copy of the current row back
        F.concat(
          F.filter(lst, x => !(x.getField("__xok") <=> okS)),
          F.array(elem))
    }
    // one deliberate change to the r8 chain: Spark's array_distinct
    // keeps -0.0 and 0.0 apart, where the native EXCLUDE fold counts
    // one value (as it always has) — normalize the zero first
    def value(x: Column): Column = argType match {
      case FloatType | DoubleType =>
        F.when(x.getField("__xv") === 0, F.lit(0).cast(argType))
          .otherwise(x.getField("__xv"))
      case _ => x.getField("__xv")
    }
    val vals0 = F.filter(F.transform(kept, value(_)), v => v.isNotNull)
    val vals = if (distinct) F.array_distinct(vals0) else vals0
    func match {
      case "count" => F.size(vals).cast("long")
      case "min"   => F.array_min(vals)
      case "max"   => F.array_max(vals)
      case "sum" | "avg" =>
        val guarded = F.when(F.size(vals) > 0, typedSum(vals, argType))
        if (func == "sum") guarded else guarded / F.size(vals)
    }
  }

  private def typedSum(arr: Column, argType: DataType): Column = argType match {
    case ByteType | ShortType | IntegerType | LongType =>
      F.aggregate(arr, F.lit(0L), (acc, x) => acc + x.cast("long"))
    case d: DecimalType =>
      val to = DecimalType(38, d.scale)
      F.aggregate(arr, F.lit(java.math.BigDecimal.ZERO).cast(to),
        (acc, x) => acc + x.cast(to))
    case _ =>
      F.aggregate(arr, F.lit(0.0), (acc, x) => acc + x.cast("double"))
  }
}
