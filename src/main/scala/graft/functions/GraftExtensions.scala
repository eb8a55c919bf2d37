package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: registers graft's native
  * expressions at session build time, so clusters can enable them via
  * `spark.sql.extensions=graft.functions.GraftExtensions` without any
  * code calling `GraftFunctions.register` first.
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   .getOrCreate()
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""), build))
    }
}
