package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass duplicate-span removal for
  * [[graft.ops.Dedup.removeDuplicateSpans]] (SURVEY §2.2 row 118) —
  * the native form of the per-token interpreted rewrite
  *
  * {{{
  * array_join(filter(filter(split(text,' '), t -> t <> ''),
  *   (t, i) -> not exists(__iv, v -> v.lo <= i+1 and i+1 <= v.hi)), ' ')
  * }}}
  *
  * plus the two interval folds feeding it (the `__ivs` struct build
  * and the merge `aggregate`). Spark HOF lambdas are CodegenFallback:
  * the old spelling paid interpreted dispatch per token × per merged
  * interval, plus per duplicate start for the folds. This expression
  * makes one pass over the UTF-8 bytes with a single sorted-pointer
  * coverage test (r13, guide §4).
  *
  * `graft_strip_spans(text, starts, n)` → struct<text, n_removed>:
  * tokens are the non-empty fields of `split(text, ' ')` (0x20 is
  * never a UTF-8 continuation byte, and no Unicode case mapping
  * produces one, so ordinals agree with the span stream's
  * `graft_word_ngrams(lower(text), n)` positions); token ordinal `i`
  * (1-based) is covered iff some start `s` satisfies
  * `s <= i <= s + n - 1`, i.e. `s ∈ [i - n + 1, i]` — with `starts`
  * sorted ascending one monotone pointer answers every token.
  * Kept tokens join with a single 0x20 (byte-identical to
  * `array_join(..., ' ')`).
  *
  * `n_removed` counts covered token ordinals, which equals the old
  * merged-interval mass Σ(hi − lo + 1): every start comes from an
  * n-gram of THIS document, so every covered ordinal ≤ the token
  * count and is counted exactly once (spec-pinned against the HOF
  * form, including overlapping/adjacent runs).
  *
  * An EMPTY starts array returns the text byte-for-byte (the caller
  * short-circuits NULL text / NULL starts before the call — this
  * expression keeps the standard null-propagating contract).
  *
  * Input contract, enforced rather than assumed: `starts` is
  * `array<int>` without NULL elements (rejected at analysis), sorted
  * ascending with every start >= 1 (a violating row raises instead of
  * silently skipping covered tokens). Dedup's
  * `sort_array(collect_list(pos))` satisfies both.
  */
case class StripSpans(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  override def dataType: DataType = StripSpans.schema
  override def prettyName: String = "graft_strip_spans"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(IntegerType, false)) if n >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, ArrayType(IntegerType, false)) =>
        TypeCheckResult.TypeCheckFailure("graft_strip_spans requires n >= 1")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "graft_strip_spans requires (string, array<int> without NULL " +
          s"elements), got ($l, $r)")
    }

  override def nullSafeEval(t: Any, s: Any): Any =
    StripSpans.compute(t.asInstanceOf[UTF8String],
      s.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, s) =>
      s"${ev.value} = graft.functions.StripSpans.compute($t, $s, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): StripSpans =
    copy(left = newLeft, right = newRight)
}

object StripSpans {

  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = true),
    StructField("n_removed", LongType, nullable = false)))

  /** Rewrites `text` dropping every non-empty token whose 1-based
    * ordinal is covered by an n-token span at one of the sorted
    * `starts`; returns (rewritten text, covered-token count). One
    * byte pass; output is never longer than the input. Throws on a
    * start below 1 or below its predecessor: the monotone pointer
    * would silently miss covered tokens. */
  def compute(text: UTF8String, starts: ArrayData, n: Int): InternalRow = {
    val ns = starts.numElements()
    var prev = 1
    var k = 0
    while (k < ns) {
      val s = starts.getInt(k)
      if (s < prev) throw new IllegalArgumentException(
        s"graft_strip_spans: starts must be ascending and >= 1, got $s " +
          s"at position ${k + 1}")
      prev = s
      k += 1
    }
    if (ns == 0) return new GenericInternalRow(Array[Any](text, 0L))
    val bytes = text.getBytes
    val out = new Array[Byte](bytes.length)
    var outLen = 0
    var removed = 0L
    var p = 0      // monotone pointer into the ascending starts
    var tok = 0    // 1-based ordinal of the current non-empty token
    var first = true
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && bytes(i) == ' ') i += 1
      if (i < bytes.length) {
        val st = i
        while (i < bytes.length && bytes(i) != ' ') i += 1
        tok += 1
        while (p < ns && starts.getInt(p) < tok - n + 1) p += 1
        if (p < ns && starts.getInt(p) <= tok) {
          removed += 1L
        } else {
          if (!first) { out(outLen) = ' '; outLen += 1 }
          System.arraycopy(bytes, st, out, outLen, i - st)
          outLen += i - st
          first = false
        }
      }
    }
    new GenericInternalRow(
      Array[Any](UTF8String.fromBytes(out, 0, outLen), removed))
  }
}
