package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders, functions => F}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types._

/** Distributed Bloom filter over 64-bit key hashes.
  *
  * Build side: a typed Aggregator whose per-partition state is the
  * m-bit word array; partials merge with bitwise OR, so the build is
  * one pass + one fixed-size-per-partition shuffle regardless of
  * corpus size. The finished filter is an ordinary ARRAY<BIGINT>
  * value in a 1-row DataFrame — broadcast it, never collect it.
  *
  * Probe side: `graft_bloom_contains(words, hash, k)` — a codegen'd
  * expression (static-helper call, stays inside whole-stage codegen).
  * Standard double hashing: probe bit i = (h1 + i*h2) mod m. Build
  * and probe share [[BloomUtil]], so agreement is by construction.
  *
  * No false negatives ever; false positives at the classic
  * (1 - e^(-kn/m))^k rate — callers must exact-verify positives
  * (see Dedup.bloomIncrementalDedup).
  */
object BloomUtil {
  def wordCount(bits: Int): Int = {
    require(bits >= 64, s"bloom filter needs >= 64 bits, got $bits")
    (bits + 63) >>> 6
  }

  @inline private def mixed(hash: Long): (Long, Long) =
    (hash & Long.MaxValue, (hash >>> 33) | 1L) // h2 odd => full period

  def set(words: Array[Long], hash: Long, k: Int): Unit = {
    val m = words.length.toLong << 6
    val (h1, h2) = mixed(hash)
    var i = 0
    while (i < k) {
      val bit = ((h1 + i * h2) & Long.MaxValue) % m
      words((bit >>> 6).toInt) |= 1L << (bit & 63)
      i += 1
    }
  }

  /** Probe entry point shared by interpreted eval and generated code. */
  def contains(words: ArrayData, hash: Long, k: Int): Boolean = {
    val m = words.numElements().toLong << 6
    val (h1, h2) = mixed(hash)
    var i = 0
    while (i < k) {
      val bit = ((h1 + i * h2) & Long.MaxValue) % m
      if ((words.getLong((bit >>> 6).toInt) & (1L << (bit & 63))) == 0L)
        return false
      i += 1
    }
    true
  }

  final class Agg(bits: Int, k: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](wordCount(bits))
    override def reduce(b: Array[Long], hash: Long): Array[Long] = {
      set(b, hash, k); b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Aggregate Column building the filter from a BIGINT hash column. */
  def build(hashCol: Column, bits: Int, k: Int): Column =
    F.udaf(new Agg(bits, k), Encoders.scalaLong).apply(hashCol)
}

/** graft_bloom_contains(words ARRAY<BIGINT>, hash BIGINT, k) —
  * membership probe against a Bloom word array. */
case class BloomContains(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains requires (ARRAY<BIGINT>, BIGINT), got $l, $r")
    }

  override def nullSafeEval(words: Any, hash: Any): Any =
    BloomUtil.contains(words.asInstanceOf[ArrayData],
      hash.asInstanceOf[Long], k)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, h) =>
      s"${ev.value} = graft.functions.BloomUtil.contains($w, $h, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}
