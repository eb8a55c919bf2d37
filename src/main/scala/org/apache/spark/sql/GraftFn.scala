package org.apache.spark.sql

/** Bridge to `Column.fn` (package-private in spark-sql-api): builds a
  * DISTINCT aggregate call (`avg(DISTINCT x)`, ...) as the native
  * Catalyst aggregate, so result types (decimal precision/scale,
  * overflow behavior) match the engine's own `AVG` instead of a
  * hand-assembled sum/count quotient. No execution-path code lives
  * here — it only constructs unresolved function Columns and, in
  * [[rowsFrame]], a plan node over rows computed elsewhere. */
object GraftFn {
  def distinctAgg(name: String, cols: Column*): Column =
    Column.fn(name, isDistinct = true, cols: _*)

  /** PERCENTILE_DISC(f) WITHIN GROUP (ORDER BY x): the registry entry
    * only accepts the parser's WITHIN GROUP route (its builder takes
    * the fraction alone and reads the sort from the parse tree), so
    * the Catalyst aggregate is constructed directly. */
  def percentileDisc(sortCol: Column, frac: Column): Column =
    classic.ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.PercentileDisc(
        classic.ExpressionUtils.expression(sortCol),
        classic.ExpressionUtils.expression(frac))
        .toAggregateExpression())

  /** TRY_CAST through [[graft.functions.SafeCast]] — the
    * regex-pre-guarded lowering that skips Spark's per-failing-row
    * caught exception on string→integral casts. */
  def safeCast(c: Column, t: org.apache.spark.sql.types.DataType): Column =
    classic.ExpressionUtils.column(
      graft.functions.SafeCast(classic.ExpressionUtils.expression(c), t))

  /** Native multi-key struct-array sort ([[graft.functions.SortStructs]])
    * — one JVM TimSort per row vs the HOF comparator's interpreted
    * lambda call per comparison. */
  def sortStructs(arr: Column, ascs: Seq[Boolean],
                  nullsFirsts: Seq[Boolean]): Column =
    classic.ExpressionUtils.column(graft.functions.SortStructs(
      classic.ExpressionUtils.expression(arr), ascs, nullsFirsts))

  /** Frame-EXCLUDE fold through [[graft.functions.ExcludeAgg]] — one
    * native pass over the collected frame. */
  def excludeAgg(lst: Column, cur: Column, mode: String, func: String,
                 distinct: Boolean): Column =
    classic.ExpressionUtils.column(graft.functions.ExcludeAgg(
      classic.ExpressionUtils.expression(lst),
      classic.ExpressionUtils.expression(cur), mode, func, distinct))

  /** `func` over an array's non-null elements through
    * [[graft.functions.FrameFold]] (the windowed DISTINCT fold). */
  def frameFold(arr: Column, func: String): Column =
    classic.ExpressionUtils.column(graft.functions.FrameFold(
      classic.ExpressionUtils.expression(arr), func))

  /** A DataFrame over already-built internal rows whose row count is
    * known, carrying that count as its statistics (rows × Spark's
    * estimated row size), so joins against it plan as they would
    * against a local table of that size. Used for results computed on
    * the driver ([[graft.ops.Dedup.connectedComponents]]). */
  def rowsFrame(spark: SparkSession, schema: types.StructType,
                rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
                numRows: Long): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val attrs = catalyst.types.DataTypeUtils.toAttributes(schema)
    val size = catalyst.plans.logical.statsEstimation.EstimationUtils
      .getSizePerRow(attrs) * numRows
    classic.Dataset.ofRows(s, execution.LogicalRDD(attrs, rows)(s,
      Some(catalyst.plans.logical.Statistics(size, Some(BigInt(numRows)))),
      None))
  }
}
