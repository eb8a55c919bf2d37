package graft.functions

import org.apache.spark.sql.catalyst.expressions.{
  Cast, EvalMode, Expression, If, Literal, RLike, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** TRY_CAST with a cheap pre-guard for string→integral (r7b).
  *
  * Spark's TRY-mode string→integral cast catches a JVM exception per
  * FAILING row — ~10 µs each (measured: 1.45 s for ~450k failing
  * casts in q_try_cast), fine for occasional dirt but costly on
  * failure-heavy columns. This RuntimeReplaceable resolves the
  * child's type and guards with the EXACT regex of Spark's accepted
  * integer format (optional sign + digits, surrounded by the ≤0x20
  * control/space characters trimAll strips) — rows failing the regex
  * read NULL with zero exceptions, rows passing it parse without one
  * (overflow still lands in the TRY path, rare). String→float/double
  * needs no guard: Spark's TRY cast parses fractional types without
  * an exception per failing row (`Cast.canUseLegacyCastForTryCast`).
  * Every other input replaces with the plain TRY cast untouched. */
case class SafeCast(child: Expression, target: DataType)
    extends UnaryExpression with RuntimeReplaceable {

  override def dataType: DataType = target
  override def prettyName: String = "try_cast"

  private def tryCast: Expression = Cast(child, target, None, EvalMode.TRY)

  override lazy val replacement: Expression = (child.dataType, target) match {
    case (StringType, ByteType | ShortType | IntegerType | LongType) =>
      // exact: anything UTF8String.toLongExact accepts matches
      val re = "^[\\x00-\\x20]*[+-]?[0-9]+[\\x00-\\x20]*$"
      If(RLike(child, Literal(UTF8String.fromString(re), StringType)),
        tryCast, Literal(null, target))
    case _ => tryCast
  }

  override protected def withNewChildInternal(newChild: Expression): SafeCast =
    copy(child = newChild)
}
