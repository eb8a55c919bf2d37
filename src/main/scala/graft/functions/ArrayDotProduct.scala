package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product over two numeric arrays.
  *
  * Replaces the `aggregate(zip_with(...))` higher-order-function
  * pipeline on the similarity hot path: HOFs evaluate a lambda
  * closure per element per row (interpreted), while this compiles to
  * a tight primitive loop inside whole-stage codegen. Semantics match
  * the HOF formulation exactly — element-wise double products summed
  * sequentially left-to-right — so oracle results are bit-identical.
  *
  * Null/absent elements are not supported (embeddings are dense);
  * length mismatch truncates to the shorter array.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private val supported: Set[DataType] =
    Set(FloatType, DoubleType, IntegerType, LongType)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if supported(l) && supported(r) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires numeric arrays, got $l and $r")
    }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elemType(left)
    val rt = elemType(right)
    def get(arr: ArrayData, t: DataType, i: Int): Double = t match {
      case FloatType   => arr.getFloat(i).toDouble
      case DoubleType  => arr.getDouble(i)
      case IntegerType => arr.getInt(i).toDouble
      case LongType    => arr.getLong(i).toDouble
      case other => throw new IllegalArgumentException(s"unsupported element type $other")
    }
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += get(x, lt, i) * get(y, rt, i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(arr: String, t: DataType, i: String): String = t match {
      case FloatType   => s"(double) $arr.getFloat($i)"
      case DoubleType  => s"$arr.getDouble($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case LongType    => s"(double) $arr.getLong($i)"
      case other => throw new IllegalArgumentException(s"unsupported element type $other")
    }
    val lt = elemType(left)
    val rt = elemType(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${getter(a, lt, i)} * ${getter(b, rt, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Session registration for graft's native expressions — makes them
  * callable from selectExpr / SQL as ordinary functions. */
object GraftFunctions {
  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
      v.toString.toInt
    case other =>
      throw new IllegalArgumentException(s"$what must be a literal, got $other")
  }

  /** Evaluates a FOLDABLE array-of-strings argument (an `array('a',
    * 'b', ...)` literal — the engine-replayable vocab contract). */
  private def litStringArray(e: Expression, what: String): Seq[String] = {
    if (!e.foldable)
      throw new IllegalArgumentException(s"$what must be a foldable array literal")
    e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until a.numElements()).map { i =>
          if (a.isNullAt(i)) throw new IllegalArgumentException(
            s"$what must not contain NULL entries")
          a.getUTF8String(i).toString
        }
      case other =>
        throw new IllegalArgumentException(s"$what must be an array, got $other")
    }
  }

  /** (name, usage, builder) of every native function: the one table
    * both [[register]] and [[GraftExtensions]] install. */
  val table: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", "dot product of two numeric arrays",
      e => ArrayDotProduct(e(0), e(1))),
    ("graft_minhash", "one-pass sliced minhash signatures",
      e => MinHashSlices(e(0), litInt(e(1), "graft_minhash seeds"))),
    ("graft_fingerprint", "min-md5 rolling fingerprint",
      e => RollingMinHash(e(0), litInt(e(1), "graft_fingerprint window"))),
    ("graft_simhash", "one-pass simhash over tokens",
      e => SimHash(e(0), litInt(e(1), "graft_simhash bits"))),
    ("graft_textstats", "one-pass text statistics struct",
      e => TextStats(e(0))),
    ("graft_topgram_max", "max n-gram multiplicity within a token array",
      e => TopGramMax(e(0), litInt(e(1), "graft_topgram_max n"))),
    ("graft_bloom_contains", "Bloom-filter membership probe",
      e => BloomContains(e(0), e(1), litInt(e(2), "graft_bloom_contains k"))),
    ("graft_bottom_k", "bottom-k distinct strings (KMV sketch pass)",
      e => BottomKDistinct(e(0), litInt(e(1), "graft_bottom_k k"))),
    ("graft_word_ngrams", "word n-gram array (empty tokens filtered)",
      e => WordNgrams(e(0), litInt(e(1), "graft_word_ngrams n"),
        filterEmpty = true, distinct = false, padShort = false)),
    ("graft_word_shingles", "distinct word n-gram shingle array",
      e => WordNgrams(e(0), litInt(e(1), "graft_word_shingles n"),
        filterEmpty = false, distinct = true, padShort = true)),
    ("graft_edit_distance", "banded edit distance, capped at a threshold",
      e => BandedLevenshtein(e(0), e(1),
        litInt(e(2), "graft_edit_distance threshold"))),
    ("graft_del_neighborhood", "FastSS <=k-deletion neighborhood",
      e => DelNeighborhood(e(0), litInt(e(1), "graft_del_neighborhood k"))),
    ("graft_bpe_count", "greedy longest-match subword token count",
      e => BpeCount(e(0), litStringArray(e(1), "graft_bpe_count vocab"))),
    ("graft_bpe_tokens", "greedy longest-match subword tokens",
      e => BpeTokenize(e(0), litStringArray(e(1), "graft_bpe_tokens vocab"))),
    ("graft_pq_encode", "product-quantization codes + error",
      e => PqEncodeCodes(e(0), e(1), litInt(e(2), "graft_pq_encode m"),
        litInt(e(3), "graft_pq_encode k"))),
    ("graft_int8", "int8-lattice quantization of an embedding vector",
      e => Int8Lattice(e(0))),
    ("graft_strip_spans", "duplicate-span removal: struct<text, n_removed>",
      e => StripSpans(e(0), e(1), litInt(e(2), "graft_strip_spans n"))))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach { case (name, _, build) =>
      registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
