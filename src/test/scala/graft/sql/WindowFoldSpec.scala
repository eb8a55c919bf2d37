package graft.sql

import graft.{Graft, SparkTestBase}
import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** The native windowed DISTINCT / EXCLUDE folds against the HOF chain
  * they replaced ([[WindowFoldReference]]), on seeded data with order
  * ties, NULLs and -0.0, in codegen and interpreted mode. Both sides
  * run in one plan over the same sorted rows, so ROWS frames over
  * ties see the same frame on both sides. */
class WindowFoldSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("p", IntegerType),
    StructField("o", IntegerType), StructField("vi", IntegerType),
    StructField("vb", LongType), StructField("vd", DecimalType(12, 2)),
    StructField("vf", DoubleType), StructField("vs", StringType)))

  private lazy val table: DataFrame = {
    val rnd = new scala.util.Random(20261020L)
    def maybe[T](v: => T): Any = if (rnd.nextInt(6) == 0) null else v
    val rows = (0 until 240).map { i =>
      Row(i.toLong, i % 3, rnd.nextInt(10),
        maybe(rnd.nextInt(7) - 3),
        maybe(rnd.nextInt(5).toLong * 1000000007L - 2000000000L),
        maybe(new java.math.BigDecimal(rnd.nextInt(2001) - 1000).movePointLeft(2)),
        maybe(Seq(-0.0, 0.0, 1.5, -2.25, 1e-3, 7.0)(rnd.nextInt(6))),
        maybe(Seq("a", "b", "ab", "")(rnd.nextInt(4))))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private lazy val g: Graft = {
    val s = Graft(spark)
    s.registerTable("wf", table)
    s
  }

  private val cols = Seq("vi", "vb", "vd", "vf", "vs")
  private def funcsFor(c: String): Seq[String] =
    if (c == "vs") Seq("count", "min", "max")
    else Seq("count", "sum", "avg", "min", "max")

  /** Row-by-row equality of `got` and `want` columns: NULL-safe,
    * numerically for numbers (doubles to 1e-9 relative: the two sides
    * may sum a frame in different orders). */
  private def assertSame(df: DataFrame, pairs: Seq[(String, String)], what: String): Unit = {
    pairs.foreach { case (a, b) =>
      assert(df.schema(a).dataType == df.schema(b).dataType,
        s"$what $a: ${df.schema(a).dataType} vs ${df.schema(b).dataType}")
    }
    val rows = df.collect()
    assert(rows.nonEmpty)
    for (r <- rows; (a, b) <- pairs) {
      val (x, y) = (r.getAs[Any](a), r.getAs[Any](b))
      val same = (x, y) match {
        case (null, null) => true
        case (u: Double, v: Double) =>
          math.abs(u - v) <= 1e-9 * math.max(1.0, math.abs(u))
        case (u: java.math.BigDecimal, v: java.math.BigDecimal) => u.compareTo(v) == 0
        case _ => x == y
      }
      assert(same, s"$what $a: $x vs $b: $y at id ${r.getAs[Any]("id")}")
    }
  }

  private def inBothEvalModes(body: => Unit): Unit =
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try body
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  // (SQL frame, the same frame in the DataFrame API)
  private val frames = Seq(
    "rows between 2 preceding and 1 following" ->
      Window.partitionBy("p").orderBy("o").rowsBetween(-2, 1),
    "range between 1 preceding and 1 following" ->
      Window.partitionBy("p").orderBy("o").rangeBetween(-1, 1))

  for ((frameSql, frame) <- frames;
       mode <- Seq("current row", "group", "ties", "no others");
       distinct <- Seq(true, false) if distinct || mode != "no others") {
    test(s"windowed fold equals the HOF reference: $frameSql, exclude $mode, " +
        s"distinct=$distinct") {
      // without DISTINCT the fold serves min/max; count/sum/avg take
      // the subtraction algebra
      val cases = for (c <- cols; f <- funcsFor(c)
                       if distinct || f == "min" || f == "max") yield (c, f)
      val sel = cases.zipWithIndex.map { case ((c, f), i) =>
        s"$f(${if (distinct) "distinct " else ""}$c) over (partition by p order by o " +
          s"$frameSql exclude $mode) as got_$i"
      }
      inBothEvalModes {
        val got = g.query(s"select id, p, o, ${cols.mkString(", ")}, " +
          s"${sel.mkString(", ")} from wf")
        val refCols: Seq[Column] = cases.zipWithIndex.map { case ((c, f), i) =>
          WindowFoldReference.fold(F.col(c), Seq(F.col("o")), frame, mode, f,
            distinct, schema(c).dataType).as(s"want_$i")
        }
        val both = got.select(F.col("*") +: refCols: _*)
        assertSame(both, cases.indices.map(i => s"got_$i" -> s"want_$i"),
          s"$frameSql/$mode/distinct=$distinct")
      }
    }
  }

  test("windowed sum(distinct ...) after GROUP BY keeps the engine's sum type") {
    // p + max(...) resolves only after the aggregate: the fold's type
    // comes from the element type at analysis, never a double fallback
    inBothEvalModes {
      val got = g.query(
        """select p,
             sum(distinct p + max(vb)) over (order by p
               rows between unbounded preceding and current row) as sb,
             sum(distinct p + max(vd)) over (order by p
               rows between 1 preceding and 1 following exclude current row) as sd,
             avg(distinct p + max(vi)) over (order by p
               rows between unbounded preceding and unbounded following
               exclude group) as ai
           from wf group by p""")
      assert(got.schema("sb").dataType == LongType, got.schema)
      assert(got.schema("sd").dataType == DecimalType(38, 2), got.schema)
      val grouped = table.groupBy("p").agg(
        (F.col("p") + F.max("vb")).as("xb"), (F.col("p") + F.max("vd")).as("xd"),
        (F.col("p") + F.max("vi")).as("xi"))
      val w = Window.orderBy("p")
      val want = grouped.select(F.col("p"),
        WindowFoldReference.fold(F.col("xb"), Seq(F.col("p")),
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow),
          "no others", "sum", distinct = true, LongType).as("wb"),
        WindowFoldReference.fold(F.col("xd"), Seq(F.col("p")), w.rowsBetween(-1, 1),
          "current row", "sum", distinct = true, grouped.schema("xd").dataType).as("wd"),
        WindowFoldReference.fold(F.col("xi"), Seq(F.col("p")),
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing),
          "group", "avg", distinct = true, IntegerType).as("wi"))
      assertSame(got.join(want, "p").withColumnRenamed("p", "id"),
        Seq("sb" -> "wb", "sd" -> "wd", "ai" -> "wi"), "post-GROUP-BY")
    }
  }
}
