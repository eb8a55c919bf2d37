package graft.functions

import graft.{SparkTestBase, TestSpark}

/** Specs for graft's native Catalyst expressions. */
class FunctionsSpec extends SparkTestBase {

  private def emb = {
    GraftFunctions.register(spark)
    spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
  }

  test("graft_dot is bit-identical to the HOF formulation") {
    val both = emb.selectExpr(
      "graft_dot(embedding, embedding) as a",
      """aggregate(zip_with(embedding, embedding,
           (x, y) -> cast(x as double) * cast(y as double)),
         cast(0 as double), (acc, v) -> acc + v) as b""")
    assert(both.filter("a <> b").count() == 0)
  }

  test("graft_int8 is bit-identical to the HOF lattice formulation (r13)") {
    val hof =
      """case when cast(array_max(transform(embedding,
               v -> abs(cast(v as double)))) as double) = 0D
           then transform(embedding, v -> 0L)
           else transform(embedding,
             v -> cast(floor(cast(v as double) * 127D /
               cast(array_max(transform(embedding,
                 v2 -> abs(cast(v2 as double)))) as double) + 0.5D) as bigint))
         end"""
    val both = emb.selectExpr("graft_int8(embedding) as a", s"$hof as b")
    assert(both.filter("a <> b").count() == 0)
    // edges: zero vector, negatives, single element, empty, null
    val edges = spark.sql(
      """select * from values
           (array(cast(0.0 as float), cast(0.0 as float))),
           (array(cast(-3.5 as float), cast(1.75 as float))),
           (array(cast(2.5 as float))),
           (cast(array() as array<float>)),
           (cast(null as array<float>))
         as t(embedding)""")
    GraftFunctions.register(spark)
    val e = edges.selectExpr("graft_int8(embedding) as a", s"$hof as b")
      .collect()
    e.foreach { r =>
      assert(Option(r.get(0)).map(_.toString) ==
        Option(r.get(1)).map(_.toString), r.toString)
    }
  }

  test("graft_dot works with a literal double array (hyperplane form)") {
    val r = emb.limit(1).selectExpr(
      "graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) as d").collect()
    assert(r.head.getDouble(0) == 11.0)
  }

  test("graft_dot mixed float/double and truncation to shorter array") {
    val r = spark.sql(
      "select graft_dot(array(cast(2.0 as float), cast(3.0 as float)), array(10.0D)) as d")
    assert(r.collect().head.getDouble(0) == 20.0)
  }

  test("graft_dot rejects non-numeric arrays at analysis") {
    assertThrows[Throwable](
      spark.sql("select graft_dot(array('a'), array('b'))").collect())
  }

  test("graft_textstats matches the builtin-expression formulations") {
    GraftFunctions.register(spark)
    // adversarial edge cases alongside the real corpus: empty string,
    // space runs, tabs/newlines (\s but not space-trimmed), unicode
    // multi-byte, uppercase (counts as punct/symbol), digits
    val edge = spark.sql(
      """select text from values (''), ('   '), (' a  b '), ('a'), ('the'),
           ('the THE The'), ('a\tb\nc'), ('h\u00e9llo w\u00f6rld'), ('Test123 MIX!!x9'),
           ('la de of und  zu'), ('tab\tend\t'), ('123 456x') as t(text)""")
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("text")
    for (src <- Seq(edge, docs)) {
      val both = src.selectExpr(
        "graft_textstats(text) as st",
        "length(text) as c_chars",
        "length(regexp_replace(text, '[^a-z0-9 ]', '')) as c_kept",
        "size(split(lower(text), ' ')) as c_tok",
        "size(filter(split(lower(text), ' '), t -> t in ('the','a','of','and','to'))) as c_en",
        "size(filter(split(lower(text), ' '), t -> t in ('el','la','de','y','que'))) as c_es",
        "size(filter(split(lower(text), ' '), t -> t in ('le','la','de','et','les'))) as c_fr",
        "size(filter(split(lower(text), ' '), t -> t in ('der','die','das','und','zu'))) as c_de",
        """size(split(trim(text), '\\s+')) as c_ws""",
        """size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) as c_bpe""")
      val bad = both.filter(
        """st.n_chars <> c_chars or st.n_kept <> c_kept or st.tok_total <> c_tok
           or st.stop_en <> c_en or st.stop_es <> c_es or st.stop_fr <> c_fr
           or st.stop_de <> c_de or st.n_ws <> c_ws or st.n_bpe <> c_bpe""")
      assert(bad.count() == 0, bad.collect().take(3).mkString("\n"))
    }
  }

  test("native expressions keep their stage inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    for (expr <- Seq("graft_textstats(text) as x",
                     "graft_fingerprint(text, 8) as x",
                     "graft_simhash(split(lower(text), ' '), 60) as x",
                     "graft_del_neighborhood(substring(text, 1, 20), 2) as x")) {
      val plan = docs.selectExpr("doc_id", expr)
        .queryExecution.executedPlan.toString
      // '*(n) Project' = the projection runs inside WholeStageCodegen
      // stage n (a CodegenFallback expression would print a bare
      // 'Project' outside any '*' span)
      assert(plan.contains("*(1) Project"), s"$expr not codegen'd:\n$plan")
    }
  }

  test("GraftExtensions registers functions at session build time") {
    import org.apache.spark.sql.SparkSession
    // reuse the shared SparkContext but build a brand-new session so
    // withExtensions actually applies
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql("select graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) as d")
        .collect()
      assert(r.head.getDouble(0) == 11.0)
      assert(s2 ne prev, "a new session should have been created")
      // every function of the one registration table resolves here
      val missing = GraftFunctions.table.map(_._1).filterNot(s2.catalog.functionExists)
      assert(missing.isEmpty, s"not registered by GraftExtensions: $missing")
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("graft_topgram_max equals the exploded per-doc bigram max") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"${graft.TestSpark.sfDir}/documents.parquet")
      .selectExpr("doc_id", "filter(split(lower(text), ' '), t -> t <> '') as w")
      .filter("size(w) >= 2")
    val native = docs.selectExpr("doc_id", "graft_topgram_max(w, 2) as m")
    val exploded = docs
      .selectExpr("doc_id",
        """explode(transform(sequence(1, size(w) - 1),
             i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))) as g""")
      .groupBy("doc_id", "g").count()
      .groupBy("doc_id").agg(org.apache.spark.sql.functions.max("count").as("m"))
      .selectExpr("doc_id", "cast(m as int) as m")
    assert(native.exceptAll(exploded).isEmpty && exploded.exceptAll(native).isEmpty)
    // unigrams and short arrays
    import spark.implicits._
    val tiny = Seq((1L, Seq("a", "b", "a", "b", "a")), (2L, Seq("x"))).toDF("id", "w")
    val r = tiny.selectExpr("id", "graft_topgram_max(w, 2) as m2",
        "graft_topgram_max(w, 1) as m1")
      .collect().map(x => x.getLong(0) -> ((x.getInt(1), x.getInt(2)))).toMap
    assert(r(1L) == ((2, 3)) && r(2L) == ((0, 1)), r.toString)
  }

  test("graft_word_ngrams equals the filtered HOF gram stream") {
    GraftFunctions.register(spark)
    val docs = spark.read
      .parquet(s"${TestSpark.sfDir}/documents.parquet")
      .limit(300)
    for (n <- Seq(1, 2, 8)) {
      val native = docs.selectExpr("doc_id",
        s"explode(graft_word_ngrams(lower(text), $n)) as g")
      val hof = docs
        .selectExpr("doc_id", "filter(split(lower(text), ' '), t -> t <> '') as w")
        .filter(s"size(w) >= $n")
        .selectExpr("doc_id",
          s"""explode(transform(sequence(1, size(w) - ${n - 1}),
               i -> concat(${(0 until n).map(j => s"element_at(w, i+$j)")
                 .mkString(", ' ', ")}))) as g""")
      assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty,
        s"n=$n mismatch")
    }
  }

  test("graft_word_shingles equals array_distinct of the raw-split grams") {
    GraftFunctions.register(spark)
    val docs = spark.read
      .parquet(s"${TestSpark.sfDir}/documents.parquet")
      .limit(300)
      // plant text with doubled spaces and short docs
      .selectExpr("doc_id",
        "case when doc_id % 7 = 0 then 'one two' " +
        "     when doc_id % 7 = 1 then replace(text, ' ', '  ') " +
        "     else text end as text")
    val native = docs.selectExpr("doc_id",
      "graft_word_shingles(lower(text), 3) as sh")
    val hof = docs
      .selectExpr("doc_id", "split(lower(text), ' ') as __toks")
      .selectExpr("doc_id",
        """array_distinct(transform(
             sequence(1, greatest(size(__toks) - 2, 1)),
             i -> concat(try_element_at(__toks, i), ' ',
                         try_element_at(__toks, i+1), ' ',
                         try_element_at(__toks, i+2)))) as sh""")
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("graft_word_ngrams edge cases: empty, spaces-only, null, short") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val t = Seq((1L, ""), (2L, "   "), (3L, null: String), (4L, "a b"),
        (5L, " a  b ")).toDF("id", "text")
    val r = t.selectExpr("id",
        "graft_word_ngrams(text, 2) as g",
        "graft_word_shingles(text, 2) as s")
      .collect().map(x => x.getLong(0) ->
        ((Option(x.getSeq[String](1)).map(_.toList),
          Option(x.getSeq[String](2)).map(_.toList)))).toMap
    assert(r(1L) == ((Some(Nil), Some(List(null)))), r(1L).toString)
    // raw split of three spaces = four empty tokens; every 2-gram is
    // the single joining space, deduped to one
    assert(r(2L) == ((Some(Nil), Some(List(" ")))), r(2L).toString)
    assert(r(3L) == ((None, None)))
    assert(r(4L) == ((Some(List("a b")), Some(List("a b")))))
    // filtered: tokens [a,b] -> one gram; raw: ["","a","","b",""]
    assert(r(5L)._1 == Some(List("a b")), r(5L).toString)
    assert(r(5L)._2 == Some(List(" a", "a ", " b", "b ")), r(5L).toString)
  }
  test("graft_edit_distance equals Spark's thresholded levenshtein") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // fuzz short random strings (incl. non-ASCII code points) against
    // the built-in for every threshold 0..3
    val rnd = new scala.util.Random(42)
    val alphabets = Seq("ab", "abc", "abcd\u00e9\u4e16")
    val cases = (1 to 400).map { _ =>
      val al = alphabets(rnd.nextInt(alphabets.length))
      def mk(n: Int) = (1 to n).map(_ => al(rnd.nextInt(al.length))).mkString
      (mk(rnd.nextInt(12)), mk(rnd.nextInt(12)))
    } ++ Seq(("", ""), ("", "abc"), ("abc", ""), ("same", "same"))
    val df = cases.toDF("a", "b")
    for (k <- 0 to 3) {
      val diff = df.selectExpr("a", "b",
          s"graft_edit_distance(a, b, $k) as g",
          s"levenshtein(a, b, $k) as l")
        .filter("g <> l or (g is null) <> (l is null)")
        .collect()
      assert(diff.isEmpty,
        s"k=$k mismatches: ${diff.take(5).mkString(", ")}")
    }
  }
  test("SafeCast matches Spark's try_cast on random dirty strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = "0123456789+-. \teE.xF\u00e9\u0001"
    val cases = (1 to 600).map { _ =>
      (1 to rnd.nextInt(10)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    } ++ Seq("", " 42 ", "+7", "-0", "12.5", "1e3", "Infinity", "-inf",
      "NaN", "nan", "0x10", "9999999999999999999999", " \u0001 5 ")
    val df = cases.toDF("s")
    for (t <- Seq("int", "bigint", "double", "float")) {
      val diff = df.select($"s",
          org.apache.spark.sql.GraftFn.safeCast($"s",
            org.apache.spark.sql.types.DataType.fromDDL(t)).as("g"),
          $"s".try_cast(t).as("b"))
        .filter("g <> b or (g is null) <> (b is null)")
        .collect()
      assert(diff.isEmpty, s"$t: ${diff.take(5).mkString(", ")}")
    }
  }

  test("ExcludeAgg collect honors DISTINCT (r10, r9 ADVICE)") {
    // the translator passes distinct=false for collect today; the
    // expression itself must still dedupe when asked, not silently
    // ignore the flag
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val df = Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 3L)).toDF("k", "v")
    val w = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val okS = F.struct(F.col("k"))
    val rid = F.xxhash64(okS, F.col("v"))
    val elem = F.struct(okS.as("__xok"), rid.as("__xrid"),
      F.col("v").as("__xv"))
    val lst = F.collect_list(elem).over(w)
    val got = df
      .withColumn("all", org.apache.spark.sql.GraftFn.excludeAgg(
        lst, elem, "current row", "collect", distinct = false))
      .withColumn("ded", org.apache.spark.sql.GraftFn.excludeAgg(
        lst, elem, "current row", "collect", distinct = true))
      .filter("k = 1")
      .selectExpr("all", "ded").collect().head
    assert(got.getSeq[Long](0) == Seq(2L, 2L, 3L), got)
    assert(got.getSeq[Long](1) == Seq(2L, 3L), got)
  }

  test("SortStructs matches the HOF comparator sort bit-for-bit (r11)") {
    import org.apache.spark.sql.{functions => F, GraftFn}
    // multi-key (desc nulls-last, asc nulls-first) over structs with
    // null keys, tie keys (stability), and a carried value field —
    // the exact shape orderedSetPost sorts
    val df = spark.range(2000).selectExpr(
      """transform(sequence(1, 40 + cast(id % 7 as int)), i -> named_struct(
           '__k0', case when (id + i) % 11 = 0 then cast(null as bigint)
                        else (id * i) % 13 end,
           '__k1', cast(i % 5 as bigint),
           '__v', concat('v', (id + i) % 17))) as arr""")
    def cmp(l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val (l0, r0) = (l.getField("__k0"), r.getField("__k0"))
      val (l1, r1) = (l.getField("__k1"), r.getField("__k1"))
      F.when(l0.isNull && r0.isNull,
          F.when(l1.isNull && r1.isNull, F.lit(0))
            .when(l1.isNull, F.lit(-1)).when(r1.isNull, F.lit(1))
            .when(l1 < r1, F.lit(-1)).when(l1 > r1, F.lit(1))
            .otherwise(F.lit(0)))
        .when(l0.isNull, F.lit(1))   // desc + nulls LAST
        .when(r0.isNull, F.lit(-1))
        .when(l0 < r0, F.lit(1))     // desc
        .when(l0 > r0, F.lit(-1))
        .otherwise(
          F.when(l1.isNull && r1.isNull, F.lit(0))
            .when(l1.isNull, F.lit(-1)).when(r1.isNull, F.lit(1))
            .when(l1 < r1, F.lit(-1)).when(l1 > r1, F.lit(1))
            .otherwise(F.lit(0)))
    }
    val both = df.select(
      F.array_sort(F.col("arr"), (l, r) => cmp(l, r)).as("hof"),
      GraftFn.sortStructs(F.col("arr"),
        Seq(false, true), Seq(false, true)).as("native"))
    assert(both.where("hof <> native").count() == 0)
    // null array passes through; empty array sorts to itself
    val edge = spark.sql(
      """select cast(null as array<struct<__k0:bigint,__v:string>>) as a,
                array() as e""")
      .select(GraftFn.sortStructs(F.col("a"), Seq(true), Seq(true)).as("a"))
    assert(edge.collect()(0).isNullAt(0))
    // a NULL ELEMENT behaves as a struct of all-null keys in BOTH
    // arms (review r11: the native arm previously forced nulls-first
    // regardless of flags) — desc nulls-LAST must put it last
    val withNull = spark.sql(
      """select array(named_struct('__k0', 2L, '__v', 'b'),
                      cast(null as struct<__k0:bigint,__v:string>),
                      named_struct('__k0', 5L, '__v', 'a')) as arr""")
    def cmpN(l: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) = {
      val (l0, r0) = (l.getField("__k0"), r.getField("__k0"))
      F.when(l0.isNull && r0.isNull, F.lit(0))
        .when(l0.isNull, F.lit(1)).when(r0.isNull, F.lit(-1))
        .when(l0 < r0, F.lit(1)).when(l0 > r0, F.lit(-1)).otherwise(F.lit(0))
    }
    val nb = withNull.select(
      F.array_sort(F.col("arr"), (l, r) => cmpN(l, r)).as("hof"),
      GraftFn.sortStructs(F.col("arr"), Seq(false), Seq(false)).as("native"))
    assert(nb.where("hof <> native").count() == 0 ||
      // struct<> comparison on null elements is itself 3VL — compare
      // the rendered rows instead
      nb.collect()(0).get(0).toString == nb.collect()(0).get(1).toString)
  }

  /** Runs `body` once codegen'd (factoryMode CODEGEN_ONLY, whole-stage
    * on) and once interpreted (NO_CODEGEN, whole-stage off). Inputs
    * must reach the projection through an exchange: a projection over
    * a LocalRelation is folded at optimization, in interpreted mode. */
  private def inBothEvalModes(body: String => Unit): Unit =
    for ((mode, wholeStage) <-
           Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  test("graft_strip_spans matches the old HOF interval rewrite (r13)") {
    GraftFunctions.register(spark)
    val n = 3
    // planted edges: overlapping spans, adjacent spans that merge,
    // single span, full coverage, weird whitespace (normalized by
    // BOTH forms when a removal happens), empty starts (byte-for-byte
    // passthrough incl. whitespace), start at position 1 and at the
    // last legal position
    val rows = spark.sql(
      """select * from values
           ('a b c d e f g h', array(2, 3)),
           ('a b c d e f g h', array(1, 4)),
           ('a b c d e f',     array(4)),
           ('a b c',           array(1)),
           ('  a   b  c d   ', array(2)),
           ('a b c d',         slice(array(0), 1, 0)),
           ('  x   y ',        slice(array(0), 1, 0)),
           ('a b c d e',       array(1, 2, 3))
         as t(text, __starts)""")
    val old = rows
      .selectExpr("text", "__starts",
        s"""transform(__starts,
              s -> named_struct('lo', s, 'hi', s + ${n - 1})) as __ivs""")
      .selectExpr("text", "__starts",
        """aggregate(__ivs, slice(__ivs, 1, 0), (acc, v) ->
             case when size(acc) > 0
                    and v.lo <= element_at(acc, -1).hi + 1
               then concat(slice(acc, 1, size(acc) - 1),
                 array(named_struct('lo', element_at(acc, -1).lo,
                   'hi', greatest(element_at(acc, -1).hi, v.hi))))
               else concat(acc, array(v)) end) as __iv""")
      .selectExpr("text", "__starts",
        """case when size(__iv) = 0 then text
             else array_join(filter(filter(split(text, ' '), t -> t <> ''),
               (t, i) -> not exists(__iv,
                 v -> v.lo <= i + 1 and i + 1 <= v.hi)), ' ') end as o_text""",
        "aggregate(__iv, 0L, (a, v) -> a + v.hi - v.lo + 1) as o_removed")
    inBothEvalModes { mode =>
      val both = old.repartition(1).selectExpr("o_text", "o_removed",
        s"graft_strip_spans(text, __starts, $n) as r")
      both.collect().foreach { r =>
        val s = r.getStruct(2)
        assert(r.getString(0) == s.getString(0), s"$mode: $r")
        assert(r.getLong(1) == s.getLong(1), s"$mode: $r")
      }
    }
  }

  test("graft_strip_spans rejects NULL-bearing and unsorted starts") {
    GraftFunctions.register(spark)
    import spark.implicits._
    inBothEvalModes { mode =>
      // a NULL element would read as an arbitrary int: analysis error
      val e = intercept[Exception](
        spark.sql("select graft_strip_spans('a b c', array(1, null), 2)"))
      assert(e.getMessage.contains("without NULL elements"), s"$mode: $e")
      def strip(starts: Seq[Int]) = Seq(("a b c d e", starts))
        .toDF("text", "starts").repartition(1)
        .selectExpr("graft_strip_spans(text, starts, 2) as r")
      val probe = strip(Seq(1))
      probe.collect() // the adaptive plan prints its stages once final
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("*(") == (mode == "CODEGEN_ONLY"), s"$mode:\n$plan")
      // descending, zero, negative, and a late descent after a repeat
      for (bad <- Seq(Seq(3, 2), Seq(0, 2), Seq(-1), Seq(1, 4, 4, 2))) {
        val err = intercept[Exception](strip(bad).collect())
        assert(Iterator.iterate[Throwable](err)(_.getCause)
          .takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("must be ascending")),
          s"$mode $bad: $err")
      }
      // ascending with a repeat is valid: tokens 1-2 and 4-5 covered
      val ok = strip(Seq(1, 1, 4)).collect().head.getStruct(0)
      assert(ok.getString(0) == "c" && ok.getLong(1) == 4L, s"$mode: $ok")
    }
  }

  test("removeDuplicateSpans equals the pre-r13 HOF lowering end-to-end") {
    GraftFunctions.register(spark)
    val n = 8
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select("doc_id", "text")
    // replica of the old full lowering (span stream identical to the
    // current one; only the final projection differed)
    import org.apache.spark.sql.{functions => F}
    val spans = docs
      .select(F.col("doc_id"),
        F.posexplode(F.expr(s"graft_word_ngrams(lower(text), $n)"))
          .as(Seq("__p0", "__g")))
      .select(F.col("doc_id"), (F.col("__p0") + 1).as("__pos"),
        F.md5(F.col("__g")).as("__h"))
    val firsts = spans.groupBy("__h")
      .agg(F.min(F.struct(F.col("doc_id"), F.col("__pos"))).as("__mn"),
        F.count(F.lit(1)).as("__c"))
      .where(F.col("__c") > 1)
      .select("__h", "__mn")
    val dupStarts = spans.join(firsts, Seq("__h"))
      .where(F.struct(F.col("doc_id"), F.col("__pos")) =!= F.col("__mn"))
      .groupBy("doc_id")
      .agg(F.sort_array(F.collect_list("__pos")).as("__starts"))
    val old = docs.join(dupStarts, Seq("doc_id"), "left")
      .withColumn("__ivs", F.expr(
        s"""transform(coalesce(__starts, slice(array(0), 1, 0)),
              s -> named_struct('lo', s, 'hi', s + ${n - 1}))"""))
      .withColumn("__iv", F.expr(
        """aggregate(__ivs, slice(__ivs, 1, 0), (acc, v) ->
             case when size(acc) > 0
                    and v.lo <= element_at(acc, -1).hi + 1
               then concat(slice(acc, 1, size(acc) - 1),
                 array(named_struct('lo', element_at(acc, -1).lo,
                   'hi', greatest(element_at(acc, -1).hi, v.hi))))
               else concat(acc, array(v)) end)"""))
      .select(F.col("doc_id"),
        F.expr(
          """case when text is null then null
                  when size(__iv) = 0 then text
                  else
               array_join(filter(filter(split(text, ' '), t -> t <> ''),
                 (t, i) -> not exists(__iv,
                   v -> v.lo <= i + 1 and i + 1 <= v.hi)), ' ')
             end""").as("text"),
        F.expr(
          """aggregate(__iv, 0L, (a, v) -> a + v.hi - v.lo + 1)""")
          .as("n_removed"))
    val now = graft.ops.Dedup.removeDuplicateSpans(docs, n)
    assert(now.count() == old.count())
    assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty)
    // the operator must have actually removed something at this SF,
    // or the differential proves nothing
    assert(now.filter("n_removed > 0").count() > 0)
  }
}


