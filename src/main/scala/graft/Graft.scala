package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap
import graft.sql.{MacroExpander, Macros, Parser, Spans, Translator}
import graft.sql.Lexer.{Num, Op}

/** Session facade — the Spark-native analogue of the reference's
  * public API (register_temp_table / query / remove_temp_table,
  * /root/reference/sql_to_ibis/sql_select_query.py:38-204).
  *
  * `query(sql)` returns an UNEXECUTED DataFrame (a Catalyst logical
  * plan), exactly as the reference returns an unexecuted Ibis
  * expression: translation and optimization are decoupled from
  * execution, so callers compose further or trigger actions
  * themselves.
  *
  * Table-name lookup is case-insensitive, matching the reference
  * (tests/expression_generation/test_select.py:31).
  */
final class Graft(val spark: SparkSession) {
  private val tables = TrieMap.empty[String, DataFrame]

  final case class TableNotFoundException(name: String)
      extends RuntimeException(s"Table '$name' is not registered")

  def registerTable(name: String, df: DataFrame): Unit =
    tables.put(name.toLowerCase, df)

  def removeTable(name: String): Unit =
    tables.remove(name.toLowerCase)

  def tableNames: Set[String] = tables.keySet.toSet

  private def lookup(name: String): DataFrame =
    tables.getOrElse(name.toLowerCase, throw TableNotFoundException(name))

  // ---- statement forms (r5b): the SQL spellings of the register/
  // remove API plus EXPLAIN. Views are LAZY logical plans, exactly
  // like registerTable - nothing materializes at CREATE time.
  private val CreateViewRe =
    """(?is)^\s*create\s+(or\s+replace\s+)?(?:temp(?:orary)?\s+)?view\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))\s+as\s+(.*?)\s*;?\s*$""".r
  private val CreateTableRe =
    """(?is)^\s*create\s+(or\s+replace\s+)?table\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))\s+as\s+(.*?)\s*;?\s*$""".r
  // CREATE TABLE with an explicit column list (r10, VERDICT r9 #4):
  // registers a TYPED empty plan (limit 0) — the plain-DDL companion
  // of CTAS; types go through the dialect's CAST catalog
  private val CreateTableSchemaRe =
    """(?is)^\s*create\s+(or\s+replace\s+)?table\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))\s*\((.*)\)\s*;?\s*$""".r
  private val DropViewRe =
    """(?is)^\s*drop\s+(?:view|table)\s+(if\s+exists\s+)?(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))\s*;?\s*$""".r
  // r9 registry DDL conveniences: TRUNCATE and the ALTER TABLE
  // column/rename forms — pure plan rewrites over the lazy registry,
  // the same semantics family as CREATE VIEW / the DML statements
  private val TruncateRe =
    """(?is)^\s*truncate\s+(?:table\s+)?(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))\s*;?\s*$""".r
  private val AlterRe =
    ("""(?is)^\s*alter\s+table\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))""" +
     """\s+(.*?)\s*;?\s*$""").r
  private val ExplainRe = """(?is)^\s*explain\s+(select.*|with.*)$""".r
  // CREATE MACRO (r11c): head-matched here, params/body split with
  // Spans (defaults may contain parens/commas)
  private val CreateMacroHeadRe =
    """(?is)^\s*create\s+(or\s+replace\s+)?macro\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))\s*\(.*$""".r
  private val DropMacroRe =
    """(?is)^\s*drop\s+macro\s+(if\s+exists\s+)?(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))\s*;?\s*$""".r
  private val DescribeRe =
    """(?is)^\s*desc(?:ribe)?\s+(?:table\s+)?(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))\s*;?\s*$""".r
  private val ShowTablesRe = """(?is)^\s*show\s+tables\s*;?\s*$""".r
  private val SetRe =
    """(?is)^\s*set\s+(?:session\s+)?([a-zA-Z_][a-zA-Z0-9_.]*)\s*(?:=|\s+to\s+)\s*(.+?)\s*;?\s*$""".r
  private val ResetRe =
    """(?is)^\s*reset\s+([a-zA-Z_][a-zA-Z0-9_.]*)\s*;?\s*$""".r
  // MERGE INTO (r7b; generalized r8): the statement spelling of the
  // keyed-upsert / keyed-delete maintenance shapes (SURVEY row 94).
  // r8 carries the full Delta/standard clause matrix: conditional
  // `WHEN MATCHED [AND pred]`, column-level `UPDATE SET col = expr,
  // …`, `WHEN NOT MATCHED [BY TARGET] [AND pred] THEN INSERT * /
  // INSERT (cols) VALUES (exprs)`, and `WHEN NOT MATCHED BY SOURCE
  // [AND pred] THEN UPDATE/DELETE`. ON and the WHEN block split at
  // top-level keyword tokens (Spans), not regexes (r7 ADVICE).
  private val MergeRe =
    ("""(?is)^\s*merge\s+into\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))""" +
     """(?:\s+(?:as\s+)?(?!using\b)([a-zA-Z_][a-zA-Z0-9_]*))?""" +
     """\s+using\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))""" +
     """(?:\s+(?:as\s+)?(?!on\b)([a-zA-Z_][a-zA-Z0-9_]*))?""" +
     """\s+on\s+(.*)$""").r
  // matches only up to USING ( — the subquery is cut out as the
  // statement's first paren group (Spans.parenGroup), not a regex
  private val MergeUsingSubqueryRe =
    """(?is)^\s*merge\s+into\s+(?:"[^"]+"|[a-zA-Z_][a-zA-Z0-9_]*)(?:\s+(?:as\s+)?(?!using\b)[a-zA-Z_][a-zA-Z0-9_]*)?\s+using\s*\(.*$""".r

  private def fail(msg: String): Nothing = throw new RuntimeException(msg)

  // DML statements (r7b): the registry is a map of LAZY plans, so
  // INSERT/UPDATE/DELETE re-register a composed plan — the same
  // semantics as MERGE (nothing materializes; reads after the
  // statement see the new plan). Expressions parse through the graft
  // dialect by rewriting into a SELECT over the target.
  private val InsertRe =
    ("""(?is)^\s*insert\s+into\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))""" +
     """\s*(?:\(([^)]*)\)\s*)?""" +
     """\s*(select\s+.*|values\s*\(.*|with\s+.*)\s*;?\s*$""").r
  // DELETE ... USING (r9): the PostgreSQL join-delete form — target
  // rows with ANY source row satisfying WHERE are dropped (semi
  // semantics; multi-match is inherently fine, no cardinality guard)
  private val DeleteUsingRe =
    ("""(?is)^\s*delete\s+from\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))""" +
     """(?:\s+(?:as\s+)?(?!using\b)([a-zA-Z_][a-zA-Z0-9_]*))?""" +
     """\s+using\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))""" +
     """(?:\s+(?:as\s+)?(?!where\b)([a-zA-Z_][a-zA-Z0-9_]*))?""" +
     """\s+where\s+(.*?)\s*;?\s*$""").r
  // matches only up to USING ( — the subquery is cut out as the
  // statement's first paren group (Spans.parenGroup), not a regex
  private val DeleteUsingSubRe =
    ("""(?is)^\s*delete\s+from\s+(?:"[^"]+"|[a-zA-Z_][a-zA-Z0-9_]*)""" +
     """(?:\s+(?:as\s+)?(?!using\b)[a-zA-Z_][a-zA-Z0-9_]*)?""" +
     """\s+using\s*\(.*$""").r
  private val DeleteRe =
    ("""(?is)^\s*delete\s+from\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))""" +
     """\s+where\s+(.*?)\s*;?\s*$""").r
  // the SET-list / WHERE split happens at a keyword token, not in
  // the regex — a string literal containing ' where ' inside an
  // assignment must not split (r7 ADVICE). A top-level FROM after the
  // SET list routes to the r9 UPDATE ... FROM join form.
  private val UpdateRe =
    ("""(?is)^\s*update\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))""" +
     """(?:\s+(?:as\s+)?(?!set\b)([a-zA-Z_][a-zA-Z0-9_]*))?""" +
     """\s+set\s+(.*?)\s*;?\s*$""").r

  // COPY (r10, DuckDB dialect): COPY <table | (query)> TO 'path'
  // [(options)] writes through the Spark writer — the sink is a
  // DIRECTORY of part files (the distributed convention; a
  // 1000-executor write cannot target one file) — and COPY <table>
  // FROM 'path' [(options)] appends the files to the registered plan
  // LAZILY (spark.read is a plan, the union re-registers; nothing
  // scans until a read), positional + assignment-cast like INSERT.
  private val CopyToRe =
    ("""(?is)^\s*copy\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))""" +
     """\s+to\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""").r
  private val CopyFromRe =
    ("""(?is)^\s*copy\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))""" +
     """\s+from\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""").r
  // matches only up to COPY ( — the query is cut out as the
  // statement's first paren group (Spans.parenGroup), not a regex
  private val CopyQuerySubRe = """(?is)^\s*copy\s*\(.*$""".r
  private val CopyToTailRe =
    """(?is)^\s*to\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""".r

  private val CopyFormats = Seq("parquet", "csv", "json", "orc")

  // PREPARE / EXECUTE / DEALLOCATE (r10, PostgreSQL/DuckDB spelling):
  // a prepared statement stores SQL TEXT with $n (or ?) placeholders;
  // EXECUTE substitutes the argument expressions literally (each
  // wrapped in parens) and re-enters query(), so any statement form —
  // SELECT, DML, DDL — can be prepared. Placeholders are recognized
  // only OUTSIDE string literals and quoted identifiers.
  private val preparedStmts = TrieMap.empty[String, String]
  // EXECUTE re-entry depth (recursion wall; queries are driver-side
  // single-threaded per Graft instance, a plain var suffices)
  private var execDepth = 0
  private val PrepareRe =
    """(?is)^\s*prepare\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))\s+as\s+(.*?)\s*;?\s*$""".r
  private val ExecuteRe =
    """(?is)^\s*execute\s+(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""".r
  private val DeallocRe =
    """(?is)^\s*deallocate\s+(?:prepare\s+)?(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))\s*;?\s*$""".r

  /** Substitutes `$n` / `?` placeholder tokens with the argument
    * texts (parenthesized); string literals, quoted identifiers and
    * comments hold no placeholder tokens. `$n` and `?` may not mix;
    * every argument must be consumed and every placeholder bound —
    * all loud. */
  private def bindParams(sql: String, args: Seq[String]): String = {
    // simple literals substitute RAW (so LIMIT/OFFSET positions,
    // which take a bare integer, keep parsing); compound expressions
    // are parenthesized to preserve precedence
    val SimpleLit = """(?is)^(\d+(\.\d+)?|'[^']*'|null|true|false)$""".r
    def rendered(a: String): String =
      if (SimpleLit.matches(a)) a else s"($a)"
    var qmarks = 0; var maxDollar = 0
    val out = Spans.rewrite(sql) { (ts, i) =>
      (ts(i), ts.lift(i + 1)) match {
        case (Op("$", p), Some(n @ Num(d, _)))
            if n.pos == p + 1 && d.forall(_.isDigit) =>
          val idx = d.toInt
          if (idx < 1 || idx > args.length)
            fail(s"EXECUTE: placeholder $$$idx but ${args.length} " +
              "argument(s) supplied")
          maxDollar = math.max(maxDollar, idx)
          Some((2, rendered(args(idx - 1))))
        case (Op("?", _), _) =>
          qmarks += 1
          if (qmarks > args.length)
            fail(s"EXECUTE: ${qmarks}th '?' placeholder but only " +
              s"${args.length} argument(s) supplied")
          Some((1, rendered(args(qmarks - 1))))
        case _ => None
      }
    }
    if (qmarks > 0 && maxDollar > 0)
      fail("EXECUTE: prepared statement mixes '?' and '$n' placeholders")
    val consumed = if (qmarks > 0) qmarks else maxDollar
    if (consumed != args.length)
      fail(s"EXECUTE: statement binds $consumed parameter(s) but " +
        s"${args.length} argument(s) supplied")
    out
  }

  /** (format, Spark reader/writer options) from a COPY option list
    * and the path extension fallback. */
  private def copyOptions(optsOrNull: String,
                          path: String): (String, Map[String, String]) = {
    val FormatRe = """(?is)^format\s+'?(\w+)'?$""".r
    val HeaderRe = """(?is)^header(?:\s+(true|false))?$""".r
    val DelimRe  = """(?is)^delim(?:iter)?\s+'(.)'$""".r
    var fmt: Option[String] = None
    val extra = scala.collection.mutable.LinkedHashMap[String, String]()
    Option(optsOrNull).toSeq.flatMap(Spans.split(_, ",")).filter(_.nonEmpty)
      .foreach {
        case FormatRe(f) => fmt = Some(f.toLowerCase)
        case HeaderRe(v) =>
          extra += "header" -> Option(v).map(_.toLowerCase).getOrElse("true")
        case DelimRe(d)  => extra += "sep" -> d
        case other => fail(s"COPY option not supported: '$other' " +
          "(FORMAT <fmt>, HEADER [true|false], DELIMITER '<c>')")
      }
    val format = fmt.getOrElse {
      val dot = path.lastIndexOf('.')
      val ext = if (dot < 0) "" else path.substring(dot + 1).toLowerCase
      if (CopyFormats.contains(ext)) ext
      else fail("COPY needs (FORMAT parquet|csv|json|orc) or a path " +
        s"extension naming one, got '$path'")
    }
    if (!CopyFormats.contains(format))
      fail(s"COPY format not supported: '$format' " +
        s"(${CopyFormats.mkString("/")})")
    if (format != "csv" && extra.nonEmpty)
      fail(s"COPY ${extra.keys.mkString("/")} options apply to CSV only")
    (format, extra.toMap)
  }

  /** FS-qualified canonical form — 'file:///tmp/x' and '/tmp/x' must
    * collide or the overwrite wall is bypassable by respelling. */
  private def normPath(p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val qualified =
      try hp.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(hp)
      catch { case _: Exception => hp }
    qualified.toUri.toString.stripSuffix("/")
  }

  /** Every file path some REGISTERED plan scans, read off the
    * analyzed logical plans themselves (r11 review: bookkeeping by
    * owner name leaked through RENAME and through derived CTAS/view
    * plans — the plan IS the source of truth: a dropped, renamed, or
    * derived-from table protects its files exactly as long as some
    * registered plan still reads them). Registered plans are
    * analyzed-once DataFrames, so this is a cheap tree walk. */
  private def registeredReadPaths: Map[String, Seq[String]] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    tables.toSeq.flatMap { case (name, df) =>
      df.queryExecution.analyzed.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.map(p =>
              p.toUri.toString.stripSuffix("/") -> name)
          case _ => Nil
        }
      }.flatten
    }.groupMap(_._1)(_._2).map { case (p, ns) => p -> ns.distinct.sorted }
  }

  private def copyTo(df: DataFrame, path: String,
                     optsOrNull: String): DataFrame = {
    val np = normPath(path)
    val guarded = registeredReadPaths
    val clash = guarded.keys.find(rp =>
      np == rp || np.startsWith(rp + "/") || rp.startsWith(np + "/"))
    clash.foreach { rp =>
      fail(s"COPY TO '$path': files under '$rp' back registered " +
        s"table(s) ${guarded(rp).mkString(", ")} " +
        "(registrations are lazy reads); overwriting them would " +
        "corrupt the registered plan(s) — write to a fresh path or " +
        "DROP the reading table(s) first")
    }
    val (format, extra) = copyOptions(optsOrNull, path)
    // DuckDB writes a CSV header by default; mirror that
    val opts = if (format == "csv" && !extra.contains("header"))
      extra + ("header" -> "true") else extra
    df.write.mode("overwrite").options(opts).format(format).save(path)
    status("copied", path)
  }

  private def copyFrom(name: String, path: String,
                       optsOrNull: String): DataFrame = {
    val target = lookup(name)
    val (format, extra) = copyOptions(optsOrNull, path)
    val r = spark.read.options(extra)
    val src = format match {
      // text formats read with the TARGET's schema (DuckDB's COPY
      // FROM contract: the file is coerced to the table) under
      // FAILFAST — a row that does not parse to the schema throws at
      // read time instead of null-filling silently. CSV binds
      // positionally; JSON binds BY NAME (objects have no column
      // order — keys must match the target's column names, absent
      // keys read NULL).
      case "csv" => r.option("header", extra.getOrElse("header", "true"))
        .option("mode", "FAILFAST").schema(target.schema).csv(path)
      case "json"    => r.option("mode", "FAILFAST")
        .schema(target.schema).json(path)
      case "parquet" => r.parquet(path)
      case _         => r.orc(path)
    }
    // the arity wall can only fire for self-describing columnar
    // files (text formats were read with the target's schema above)
    if (src.columns.length != target.columns.length)
      fail(s"COPY FROM: file has ${src.columns.length} columns, " +
        s"table '$name' has ${target.columns.length}")
    // self-describing files whose column names all match the target
    // set bind BY NAME (r11 ADVICE: a reordered parquet previously
    // bound positionally and silently null-filled via assignment
    // casts); name mismatches or duplicate names fall back to the
    // positional INSERT convention
    val srcLc = src.columns.map(_.toLowerCase)
    val byName = (format == "parquet" || format == "orc") &&
      srcLc.distinct.length == srcLc.length &&
      srcLc.sorted.sameElements(target.columns.map(_.toLowerCase).sorted)
    val positional =
      if (byName)
        src.select(target.columns.map(c =>
          src(src.columns.find(_.equalsIgnoreCase(c)).get)): _*)
          .toDF(target.columns: _*)
      else src.toDF(target.columns: _*)
    val casted = positional.select(target.schema.fields.map(f =>
      positional(f.name).cast(f.dataType).as(f.name)): _*)
    registerTable(name, target.union(casted))
    status("copied", name.toLowerCase)
  }

  // EXPORT / IMPORT DATABASE (r10, DuckDB surface): EXPORT writes
  // every registered table through the COPY writer into
  // '<dir>/<table>' (FORMAT parquet default / csv / json / orc);
  // IMPORT registers each subdirectory back as a lazy read under its
  // name (overwriting same-named registrations — the restore
  // semantics). Self-describing formats roundtrip schemas; csv/json
  // re-infer on import (documented lossy corner of text formats).
  private val ExportDbRe =
    """(?is)^\s*export\s+database\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""".r
  private val ImportDbRe =
    """(?is)^\s*import\s+database\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""".r

  // SUMMARIZE (r10, DuckDB surface): per-column profile of a table or
  // query. DuckDB's version mixes approximate fields (approx_unique,
  // sampled quantiles); graft's is the EXACT deterministic subset —
  // min/max (string-cast), exact distinct count, null count, row
  // count — one aggregation job, unpivoted with stack(). Honest cost
  // note: Spark plans the N per-column EXACT countDistincts via an
  // Expand multiplying input rows ~(N+1)x before the partial
  // aggregate — the price of determinism (DuckDB's own SUMMARIZE
  // ducks it with approx_unique); fine for a profiling statement,
  // not a per-query hot path. Columns aggregate POSITIONALLY so
  // duplicate output names in SUMMARIZE <query> profile cleanly.
  private val SummarizeRe = """(?is)^\s*summarize\s+(.+?)\s*;?\s*$""".r
  private val BareNameRe = """^(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))$""".r

  private def summarize(df0: DataFrame): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val fields = df0.schema.fields
    // positional rename: duplicate output names (summarize select
    // 1 as a, 2 as a) would make df(name) ambiguous
    val df = df0.toDF(fields.indices.map(i => s"__sz_$i"): _*)
    val aggs = fields.indices.flatMap { i =>
      Seq(F.min(df(s"__sz_$i")).cast("string").as(s"__min_$i"),
        F.max(df(s"__sz_$i")).cast("string").as(s"__max_$i"),
        F.countDistinct(df(s"__sz_$i")).as(s"__nd_$i"),
        F.count(df(s"__sz_$i")).as(s"__nc_$i"))
    }
    val agged = df.agg(F.count(F.lit(1)).as("__total"),
      aggs.toIndexedSeq: _*)
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    val stackArgs = fields.zipWithIndex.map { case (f, i) =>
      s"${lit(f.name)}, ${lit(f.dataType.simpleString)}, " +
        s"__min_$i, __max_$i, __nd_$i, __total - __nc_$i"
    }.mkString(", ")
    agged.selectExpr(
      s"stack(${fields.length}, $stackArgs) as " +
        "(column_name, column_type, min, max, n_distinct, n_nulls)",
      "__total as count")
  }

  private def status(kind: String, name: String): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    spark.range(1).select(F.lit(kind).as("kind"), F.lit(name).as("name"))
  }

  /** Parse + translate SQL to a lazy DataFrame. Besides queries,
    * accepts the statement forms (CREATE/DROP VIEW and TABLE, EXPLAIN,
    * DML, MERGE, COPY, PREPARE/EXECUTE, CREATE MACRO, SET, ...).
    * Statement text is tokenized by [[graft.sql.Lexer]]: comments may
    * stand anywhere and one trailing `;` is accepted on every form. */
  def query(sqlText: String): DataFrame = {
    val sql = Spans.statement(sqlText)
    // RETURNING (r11b, PostgreSQL/DuckDB): a trailing top-level
    // RETURNING clause on INSERT/UPDATE/DELETE returns the affected
    // rows instead of the status frame. Split here, execute the bare
    // statement, and evaluate the expressions over the affected-rows
    // frame captured BEFORE the re-registration (a deleted row must
    // still be returnable).
    val head = sql.toLowerCase
    if (head.startsWith("insert") || head.startsWith("update") ||
        head.startsWith("delete")) {
      Spans.around(sql, "returning") match {
        case Seq() =>
        case Seq((stmt, exprs)) => return returningStatement(stmt, exprs)
        case _ => fail("multiple top-level RETURNING clauses")
      }
    }
    queryDispatch(sql)
  }

  /** Executes a multi-statement SQL SCRIPT (r11c): statements split
    * on top-level `;` tokens, run in order through [[query]], and the
    * LAST statement's frame is returned (the psql/DuckDB-CLI contract:
    * set up macros/views/tables, end on the SELECT you want). Empty
    * statements (trailing `;`, comment-only segments) are skipped; a
    * script with no statements is loud. */
  def runScript(script: String): DataFrame = {
    val stmts = Spans.split(script, ";").filter(_.nonEmpty)
    if (stmts.isEmpty) fail("script contains no statements")
    stmts.map(query).last
  }

  /** RETURNING lowering (r11b): build the affected-rows frame from
    * the PRE-statement registry (lazy plans capture the DataFrames,
    * so the later re-registration cannot change them), run the bare
    * statement, then evaluate the RETURNING expressions over the
    * captured frame aliased as the target. INSERT returns the
    * assignment-cast inserted rows; UPDATE returns POST-update
    * values (PostgreSQL semantics); DELETE returns the deleted rows.
    * Unsupported combinations (ON CONFLICT, UPDATE ... FROM,
    * subquery USING sources) are loud. */
  private def returningStatement(stmt: String, exprs: String): DataFrame = {
    if (exprs.isEmpty) fail("RETURNING requires at least one expression")
    stmt match {
      case InsertRe(q, b, colListOrNull, body0) =>
        if (Spans.around(body0, "on", "conflict").nonEmpty)
          fail("RETURNING is not supported with ON CONFLICT")
        val name = Option(q).getOrElse(b)
        val target = lookup(name)
        val inserted = insertFilled(target, name, Option(colListOrNull),
          insertSrcSql(body0))
        queryDispatch(stmt)
        returningOver(inserted, name, exprs)
      case DeleteUsingSubRe() =>
        fail("RETURNING is not supported with a (subquery) USING source")
      case DeleteUsingRe(tq, tb, tAl, sq, sb, sAl, cond) =>
        val tName = Option(tq).getOrElse(tb)
        val sName = Option(sq).getOrElse(sb)
        lookup(tName); lookup(sName)
        val tA = Option(tAl).getOrElse(tName)
        val sA = Option(sAl).getOrElse(sName)
        val affected = translateOnly(
          s"""select * from "$tName" as $tA where exists """ +
          s"""(select 1 from "$sName" as $sA where ($cond))""")
        queryDispatch(stmt)
        returningOver(affected, tA, exprs)
      case DeleteRe(q, b, pred) =>
        val name = Option(q).getOrElse(b)
        lookup(name)
        val affected = translateOnly(
          s"""select * from "$name" where coalesce(($pred), false)""")
        queryDispatch(stmt)
        returningOver(affected, name, exprs)
      case UpdateRe(q, b, tAl, tail) =>
        if (Spans.around(tail, "from").nonEmpty)
          fail("RETURNING is not supported with UPDATE ... FROM")
        val name = Option(q).getOrElse(b)
        val target = lookup(name)
        val (assigns, pred) = updateSet(target, name, tail)
        // POST-update values: unconditional assignments over the rows
        // the predicate selects (the statement's own CASE arms are
        // per-row conditionals; here the filter already decided)
        val items = target.columns.map { c =>
          assigns.get(c.toLowerCase)
            .map(e => s"""($e) as "$c"""").getOrElse(s""""$c"""")
        }
        val fromTxt = Option(tAl).map(al => s""""$name" as $al""")
          .getOrElse(s""""$name"""")
        val whereTxt =
          pred.map(p => s" where coalesce(($p), false)").getOrElse("")
        val affected = translateOnly(
          s"select ${items.mkString(", ")} from $fromTxt$whereTxt")
        queryDispatch(stmt)
        returningOver(affected, Option(tAl).getOrElse(name), exprs)
      case _ => fail("RETURNING is only supported on INSERT INTO, " +
        "UPDATE ... SET, and DELETE FROM statements")
    }
  }

  /** An UPDATE's `SET` list (target column, lower case -> expression
    * text), cut at its first top-level WHERE, and that WHERE's
    * predicate. */
  private def updateSet(target: DataFrame, name: String,
                        tail: String): (Map[String, String], Option[String]) = {
    val (setList, pred) = Spans.around(tail, "where").headOption match {
      case Some((sl, p)) => (sl, Some(p))
      case None          => (tail, None)
    }
    val assigns = Spans.split(setList, ",").map { a =>
      val (col, e) = Spans.around(a, "=").headOption
        .getOrElse(fail(s"UPDATE SET expects col = expr, got: $a"))
      column(target, name, col, "UPDATE").toLowerCase -> e
    }.toMap
    (assigns, pred)
  }

  /** The column of `df` (registered as `table`) that a column-list
    * entry names: bare or quoted, any case, qualified only by one of
    * `quals`. */
  private def column(df: DataFrame, table: String, ref: String, what: String,
                     quals: Set[String] = Set.empty): String = {
    val c = Spans.ref(ref) match {
      case Some((None, c))                            => c
      case Some((Some(q), c)) if quals(q.toLowerCase) => c
      case _ => fail(s"$what: bad column ref '$ref'")
    }
    df.columns.find(_.equalsIgnoreCase(c))
      .getOrElse(fail(s"$what: column '$c' not in $table"))
  }

  /** Evaluates RETURNING expressions over the affected-rows frame,
    * visible under the statement's target alias. */
  private def returningOver(affected: DataFrame, alias: String,
                            exprs: String): DataFrame = {
    val tmp = "__returning_src"
    registerTable(tmp, affected)
    try translateOnly(s"""select $exprs from $tmp as "$alias"""")
    finally removeTable(tmp)
  }

  private def queryDispatch(sqlText: String): DataFrame = sqlText match {
    case CreateViewRe(orReplace, quoted, bare, body) =>
      val name = Option(quoted).getOrElse(bare)
      if (orReplace == null && tables.contains(name.toLowerCase))
        throw new RuntimeException(
          s"view '$name' already exists (use CREATE OR REPLACE VIEW)")
      registerTable(name, translateOnly(body))
      status("view", name.toLowerCase)
    case CreateTableRe(orReplace, quoted, bare, body) =>
      // CREATE TABLE AS (r5b): like a view but MATERIALIZED-once —
      // the plan is cached, so downstream queries reread the stored
      // result instead of recomputing (unpersist via DROP TABLE)
      val name = Option(quoted).getOrElse(bare)
      if (orReplace == null && tables.contains(name.toLowerCase))
        throw new RuntimeException(
          s"table '$name' already exists (use CREATE OR REPLACE TABLE)")
      registerTable(name, translateOnly(body).cache())
      status("table", name.toLowerCase)
    case CreateTableSchemaRe(orReplace, quoted, bare, defs) =>
      val name = Option(quoted).getOrElse(bare)
      if (orReplace == null && tables.contains(name.toLowerCase))
        throw new RuntimeException(
          s"table '$name' already exists (use CREATE OR REPLACE TABLE)")
      val ColDef =
        """(?is)^\s*(?:"([^"]+)"|(\w+))\s+(\w+(?:\s+\w+)*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)\s*$""".r
      val cols = Spans.split(defs, ",").map {
        case ColDef(cq, cb, typ) => (Option(cq).getOrElse(cb), typ)
        case other => fail(s"CREATE TABLE column definition must be " +
          s"'name type', got: $other")
      }
      if (cols.isEmpty) fail("CREATE TABLE requires at least one column")
      if (cols.map(_._1.toLowerCase).distinct.length != cols.length)
        fail("CREATE TABLE column list names a column twice")
      // one typed NULL projection over a 1-row VALUES relation, then
      // limit(0): the registered plan carries the declared schema and
      // zero rows — INSERT/MERGE populate it lazily like any table
      val items = cols.map { case (c, t) =>
        s"""cast(null as $t) as "$c"""" }.mkString(", ")
      registerTable(name,
        translateOnly(s"select $items from (values (0)) __cts(__x)")
          .limit(0))
      status("table", name.toLowerCase)
    case DropViewRe(ifExists, quoted, bare) =>
      val name = Option(quoted).getOrElse(bare)
      if (!tables.contains(name.toLowerCase)) {
        if (ifExists == null) throw TableNotFoundException(name)
        status("noop", name.toLowerCase)
      } else {
        // a CTAS table may hold cached blocks — release them
        tables.get(name.toLowerCase).foreach { df =>
          try df.unpersist() catch { case _: Throwable => () }
        }
        removeTable(name)
        status("dropped", name.toLowerCase)
      }
    case InsertRe(q, b, colListOrNull, body0) =>
      val name = Option(q).getOrElse(b)
      val target = lookup(name) // loud on unknown target
      // ON CONFLICT (r10): split at the LAST top-level ON CONFLICT
      // (an unparenthesized join's ON inside an INSERT ... SELECT body
      // is followed by its condition, never by the keyword CONFLICT)
      Spans.around(body0, "on", "conflict").lastOption match {
        case Some((body, tail)) =>
          insertOnConflict(name, Option(colListOrNull), body, tail)
        case None =>
          val src = insertSrcSql(body0)
          Option(colListOrNull) match {
            case None =>
              // positional (standard): UNION ALL carries the new rows —
              // arity/type mismatches fail at analysis, loudly
              registerTable(name,
                translateOnly(s"select * from $name union all $src"))
            case Some(colList) =>
              registerTable(name, target.unionByName(
                insertFilled(target, name, Some(colList), src)))
          }
          status("inserted", name.toLowerCase)
      }
    case DeleteUsingRe(tq, tb, tAl, sq, sb, sAl, cond) =>
      val tName = Option(tq).getOrElse(tb)
      val sName = Option(sq).getOrElse(sb)
      lookup(tName); lookup(sName)
      val tA = Option(tAl).getOrElse(tName)
      val sA = Option(sAl).getOrElse(sName)
      // the anti of the semi: keep target rows with NO source row
      // satisfying the condition. The correlated-EXISTS machinery
      // decorrelates equality conjuncts into one key anti-join;
      // multi-match needs no guard (no expression reads the source
      // row) — PostgreSQL's semantics exactly.
      registerTable(tName, translateOnly(
        s"""select * from "$tName" as $tA where not exists """ +
        s"""(select 1 from "$sName" as $sA where ($cond))"""))
      status("deleted", tName.toLowerCase)
    case DeleteRe(q, b, pred) =>
      val name = Option(q).getOrElse(b)
      lookup(name)
      // rows where the predicate is TRUE are deleted; NULL keeps
      // (the standard's 3VL) — and the WHERE path brings the whole
      // dialect (subqueries included) for free
      registerTable(name, translateOnly(
        s"select * from $name where not coalesce(($pred), false)"))
      status("deleted", name.toLowerCase)
    case UpdateRe(q, b, tAl, tail) =>
      val name = Option(q).getOrElse(b)
      val target = lookup(name)
      // a top-level FROM ends the SET list and routes to the r9
      // join-update form (PostgreSQL UPDATE ... FROM)
      Spans.around(tail, "from").headOption match {
        case Some((setList, from)) =>
          return updateFromStatement(name, Option(tAl), setList, from)
        case None =>
      }
      val (assigns, pred) = updateSet(target, name, tail)
      val items = target.columns.map { c =>
        assigns.get(c.toLowerCase) match {
          case Some(e) => pred match {
            case Some(p) => s"""case when ($p) then ($e) else "$c" end as "$c""""
            case None    => s"""($e) as "$c""""
          }
          case None => s""""$c""""
        }
      }
      // thread the optional alias into the rewritten SELECT (r9
      // ADVICE: a silently-dropped alias made `x.col` refs fail with
      // an opaque unresolved-column error)
      val fromTxt = tAl match {
        case null => s""""$name""""
        case al   => s""""$name" as $al"""
      }
      registerTable(name,
        translateOnly(s"select ${items.mkString(", ")} from $fromTxt"))
      status("updated", name.toLowerCase)
    case MergeUsingSubqueryRe() =>
      // USING (subquery) [AS] alias (r8): cut out the subquery (the
      // statement's first paren group), register its LAZY plan under a
      // reserved temp name, and re-enter with the rewritten text —
      // the alias keeps working as the source qualifier
      usingSubquery(sqlText, "__merge_using_sub")
    case DeleteUsingSubRe() =>
      // DELETE ... USING (subquery) alias (r9): same cut + re-enter
      // pattern as MERGE USING (subquery)
      usingSubquery(sqlText, "__del_using_sub")
    case MergeRe(tq, tb, tAl, sq, sb, sAl, rest) =>
      mergeStatement(Option(tq).getOrElse(tb), Option(tAl),
        Option(sq).getOrElse(sb), Option(sAl), rest)
    case ExportDbRe(dir, opts) =>
      val fmtOpts = Option(opts).getOrElse("format parquet")
      val (_, _) = copyOptions(fmtOpts, "") // validate once, loudly
      val names = tables.keys.toSeq.sorted
      // quoted identifiers can hold path separators, '..' or control
      // chars — interpolated into '$dir/$n' paths and the newline-
      // delimited manifest they would escape the export dir or
      // corrupt the manifest (r11 ADVICE): loud wall
      names.find(n => n.contains("..") || n.exists(c =>
          c == '/' || c == '\\' || Character.isISOControl(c)))
        .foreach(bad => fail("EXPORT DATABASE: table name " +
          s"'$bad' cannot name an export directory (path separator, " +
          "'..', or control character) — rename it first"))
      names.foreach { n => copyTo(lookup(n), s"$dir/$n", fmtOpts) }
      // manifest: IMPORT restores exactly THIS export's table set — a
      // re-export into a reused directory must not resurrect stale
      // subdirectories from an earlier, larger registry
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(dir, "_graft_tables"), true)
      try out.write((names.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      status("exported", dir)
    case ImportDbRe(dir, opts) =>
      val fmtOpts = Option(opts).getOrElse("format parquet")
      val (format, extra) = copyOptions(fmtOpts, "")
      // Hadoop FS, not java.io.File — EXPORT can target any FS the
      // writer reaches (hdfs://, s3a://) and the roundtrip must too
      val hPath = new org.apache.hadoop.fs.Path(dir)
      val fs =
        try hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        catch { case e: Exception =>
          fail(s"IMPORT DATABASE: cannot access '$dir': ${e.getMessage}") }
      val manifest = new org.apache.hadoop.fs.Path(dir, "_graft_tables")
      val sub: Seq[String] =
        if (fs.exists(manifest)) {
          val in = fs.open(manifest)
          val txt =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          txt.split("\n").map(_.trim).filter(_.nonEmpty).toSeq.sorted
        } else if (fs.exists(hPath)) {
          fs.listStatus(hPath).filter(_.isDirectory)
            .map(_.getPath.getName).toSeq.sorted
        } else fail(s"IMPORT DATABASE: cannot list '$dir'")
      if (sub.isEmpty) fail(s"IMPORT DATABASE: no table directories in '$dir'")
      // a crafted manifest line must not read outside the export dir
      sub.find(n => n.contains("..") || n.exists(c =>
          c == '/' || c == '\\' || Character.isISOControl(c)))
        .foreach(bad => fail("IMPORT DATABASE: manifest entry " +
          s"'$bad' is not a valid table directory name"))
      sub.foreach { n =>
        val r = spark.read.options(extra)
        val df = format match {
          case "csv" => r.option("header", extra.getOrElse("header", "true"))
            .option("inferSchema", "true").csv(s"$dir/$n")
          case "json"    => r.json(s"$dir/$n")
          case "parquet" => r.parquet(s"$dir/$n")
          case _         => r.orc(s"$dir/$n")
        }
        registerTable(n, df)
      }
      status("imported", dir)
    case SummarizeRe(body) =>
      body.trim match {
        case BareNameRe(q, b) => summarize(lookup(Option(q).getOrElse(b)))
        case queryText        => summarize(translateOnly(queryText))
      }
    case PrepareRe(q, b, body) =>
      val name = Option(q).getOrElse(b)
      if (preparedStmts.contains(name.toLowerCase))
        fail(s"prepared statement '$name' already exists " +
          "(DEALLOCATE it first)")
      preparedStmts.put(name.toLowerCase, body)
      status("prepared", name.toLowerCase)
    case ExecuteRe(q, b, argsOrNull) =>
      val name = Option(q).getOrElse(b)
      val body = preparedStmts.getOrElse(name.toLowerCase,
        fail(s"prepared statement '$name' is not registered"))
      val args =
        Option(argsOrNull).toSeq.flatMap(Spans.split(_, ",")).filter(_.nonEmpty)
      // self- or mutually-recursive prepared statements (PREPARE a AS
      // EXECUTE a) would re-enter query() unboundedly — fail loudly
      // instead of StackOverflowError (r11 ADVICE); DuckDB rejects
      // the cycle too. Legitimate nesting is shallow.
      if (execDepth >= 16)
        fail(s"EXECUTE '$name': prepared-statement recursion exceeds " +
          "depth 16 (self- or mutually-recursive EXECUTE bodies)")
      execDepth += 1
      try query(bindParams(body, args))
      finally execDepth -= 1
    case DeallocRe(q, b) =>
      val name = Option(q).getOrElse(b)
      if (preparedStmts.remove(name.toLowerCase).isEmpty)
        fail(s"prepared statement '$name' is not registered")
      status("deallocated", name.toLowerCase)
    case CopyToRe(q, b, path, opts) =>
      copyTo(lookup(Option(q).getOrElse(b)), path, opts)
    case CopyFromRe(q, b, path, opts) =>
      copyFrom(Option(q).getOrElse(b), path, opts)
    case CopyQuerySubRe() =>
      // COPY (query) TO 'path' [(opts)]: the first paren group, like
      // MERGE USING (subquery); the query goes through the dialect
      val (_, subSql, after) = Spans.parenGroup(sqlText)
      after match {
        case CopyToTailRe(path, opts) =>
          copyTo(translateOnly(subSql), path, opts)
        case other => fail("COPY (query) must be followed by " +
          s"TO 'path' [(options)], got: $other")
      }
    case TruncateRe(q, b) =>
      val name = Option(q).getOrElse(b)
      registerTable(name, lookup(name).limit(0))
      status("truncated", name.toLowerCase)
    case AlterRe(q, b, action) =>
      import org.apache.spark.sql.{functions => F}
      val name = Option(q).getOrElse(b)
      val t = lookup(name)
      val AddCol =
        """(?is)^add\s+(?:column\s+)?(?:if\s+not\s+exists\s+)?(?:"([^"]+)"|(\w+))\s+(\w+(?:\s+\w+)*(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?)$""".r
      val DropCol =
        """(?is)^drop\s+(?:column\s+)?(?:if\s+exists\s+)?(?:"([^"]+)"|(\w+))$""".r
      val RenameCol =
        """(?is)^rename\s+(?:column\s+)?(?:"([^"]+)"|(\w+))\s+to\s+(?:"([^"]+)"|(\w+))$""".r
      val RenameTo =
        """(?is)^rename\s+to\s+(?:"([^"]+)"|(\w+))$""".r
      action.trim match {
        case AddCol(cq, cb, typ) =>
          val c = Option(cq).getOrElse(cb)
          if (t.columns.exists(_.equalsIgnoreCase(c)))
            fail(s"ALTER TABLE: column '$c' already exists in $name")
          // the new column reads NULL of the declared type (ADD
          // COLUMN over a lazy plan cannot backfill); the type name
          // goes through the dialect's CAST catalog via a 1-row parse
          // (table name QUOTED — r9 ADVICE: an unquoted probe broke
          // for quoted names with spaces/mixed case; multi-word
          // standard spellings parse since r10's parseTypeName)
          val typed = translateOnly(
            s"""select cast(null as $typ) as "$c" from "$name"""")
          registerTable(name,
            t.withColumn(c, F.lit(null).cast(typed.schema.head.dataType)))
          status("altered", name.toLowerCase)
        case DropCol(cq, cb) =>
          val c = Option(cq).getOrElse(cb)
          val real = t.columns.find(_.equalsIgnoreCase(c))
            .getOrElse(fail(s"ALTER TABLE: column '$c' not in $name"))
          if (t.columns.length == 1)
            fail("ALTER TABLE: cannot drop the only column")
          registerTable(name, t.drop(real))
          status("altered", name.toLowerCase)
        case RenameCol(cq, cb, nq, nb) =>
          val c = Option(cq).getOrElse(cb)
          val n = Option(nq).getOrElse(nb)
          val real = t.columns.find(_.equalsIgnoreCase(c))
            .getOrElse(fail(s"ALTER TABLE: column '$c' not in $name"))
          if (t.columns.exists(_.equalsIgnoreCase(n)))
            fail(s"ALTER TABLE: column '$n' already exists in $name")
          registerTable(name, t.withColumnRenamed(real, n))
          status("altered", name.toLowerCase)
        case RenameTo(nq, nb) =>
          val n = Option(nq).getOrElse(nb)
          if (tables.contains(n.toLowerCase))
            fail(s"ALTER TABLE RENAME: '$n' already exists")
          registerTable(n, t); removeTable(name)
          status("renamed", n.toLowerCase)
        case other => fail("ALTER TABLE supports ADD/DROP/RENAME " +
          s"COLUMN and RENAME TO, got: $other")
      }
    case ExplainRe(body) =>
      import spark.implicits._
      explain(body).split("\n").toSeq.toDF("plan")
    case DescribeRe(quoted, bare) =>
      import spark.implicits._
      val name = Option(quoted).getOrElse(bare)
      lookup(name).schema.fields.toSeq
        .map(f => (f.name, f.dataType.simpleString, f.nullable))
        .toDF("col_name", "data_type", "nullable")
    case ShowTablesRe() =>
      import spark.implicits._
      tables.keySet.toSeq.sorted.toDF("table_name")
    // SET / RESET session configuration (r12, DuckDB/Spark-SQL
    // statement surface): values route to the session's RuntimeConf —
    // Spark itself rejects static/unknown-static keys loudly. Quoted
    // values unwrap; `SET key TO value` (PostgreSQL spelling) works.
    // The session-global effect is the point: `set
    // spark.sql.shuffle.partitions = 16` mid-script reshapes every
    // later statement's plan, exactly like the DuckDB PRAGMA dial.
    case SetRe(key, value0) =>
      val value = value0.trim match {
        case v if v.length >= 2 && v.startsWith("'") && v.endsWith("'") =>
          v.substring(1, v.length - 1).replace("''", "'")
        case v => v
      }
      spark.conf.set(key, value)
      status("set", s"$key=$value")
    case ResetRe(key) =>
      spark.conf.unset(key)
      status("reset", key)
    case CreateMacroHeadRe(orReplace, quoted, bare) =>
      createMacro(sqlText, orReplace != null, Option(quoted).getOrElse(bare))
    case DropMacroRe(ifExists, quoted, bare) =>
      val name = Option(quoted).getOrElse(bare).toLowerCase
      if (macros.remove(name).isEmpty && ifExists == null)
        fail(s"macro '$name' is not registered")
      status("dropped_macro", name)
    case _ => translateOnly(sqlText)
  }

  /** Registers a statement's first paren group — a USING (subquery)
    * source — under `tmp` and re-enters [[query]] with the group
    * replaced by that name. */
  private def usingSubquery(sqlText: String, tmp: String): DataFrame = {
    val (before, subSql, after) = Spans.parenGroup(sqlText)
    registerTable(tmp, translateOnly(subSql))
    try query(s"$before $tmp $after")
    finally removeTable(tmp)
  }

  // ---- CREATE MACRO (r11c, DuckDB dialect) ---------------------------
  // CREATE [OR REPLACE] MACRO name(p [, q := default]) AS body
  // body = scalar expression, or `TABLE <query>` for a table macro.
  // Macros expand by AST substitution before translation (see
  // graft.sql.Macros) — the planner sees the composed query, so
  // there is zero runtime indirection (no UDF boundary; aggregates
  // and windows inside bodies plan natively).
  private val macros = TrieMap.empty[String, Macros.Macro]

  /** Registered macro names (introspection; mirrors tableNames). */
  def macroNames: Set[String] = macros.keySet.toSet

  private def createMacro(sqlText: String, orReplace: Boolean,
                          name: String): DataFrame = {
    val lower = name.toLowerCase
    if (Macros.builtinTableFns.contains(lower))
      fail(s"macro name '$name' shadows the builtin table function")
    // a macro named after a builtin scalar function would silently
    // rewrite every matching-arity call in the session (the expander
    // substitutes any registered FuncCall name) — DuckDB rejects
    // builtin-colliding macro names, so does graft. The check covers
    // Spark's FunctionRegistry (the translator's fallback surface)
    // plus names the parser/translator themselves generate or
    // special-case, which may not all be registry-visible.
    // functionExists parses its argument as a multipart identifier
    // and RETHROWS ParseException for names that aren't one (quoted
    // names with spaces etc.) — such names can never collide with a
    // builtin anyway (call sites parse plain identifiers), so treat
    // an unparseable name as non-colliding rather than crashing
    val registryCollision =
      try spark.catalog.functionExists(lower)
      catch { case _: Exception => false }
    if (parserReservedFns.contains(lower) || registryCollision)
      fail(s"macro name '$name' shadows a builtin function " +
        "(DuckDB-compatible restriction: pick a non-colliding name)")
    if (!orReplace && macros.contains(lower))
      fail(s"macro '$name' already exists (use CREATE OR REPLACE MACRO)")
    // the parameter list is the first paren group (a quoted name is
    // one identifier token, whatever it holds)
    val (_, paramsTxt, after) = Spans.parenGroup(sqlText)
    val AsTail = """(?is)^\s*as\s+(.*?)\s*;?\s*$""".r
    val bodyTxt = after match {
      case AsTail(b) => b
      case other => fail(s"CREATE MACRO expects AS <body>, got: $other")
    }
    val ParamRe = """(?s)^\s*([a-zA-Z_][a-zA-Z0-9_]*)\s*(?::=\s*(.+?))?\s*$""".r
    val params = Spans.split(paramsTxt, ",").filter(_.nonEmpty).map {
      case ParamRe(p, dflt) =>
        (p.toLowerCase, Option(dflt).map(Parser.parseExpression))
      case other => fail(s"CREATE MACRO parameter must be 'name' or " +
        s"'name := default', got: $other")
    }
    if (params.map(_._1).distinct.length != params.length)
      fail("CREATE MACRO parameter list names a parameter twice")
    // defaults must be trailing (positional binding fills from the left)
    val firstDefault = params.indexWhere(_._2.isDefined)
    if (firstDefault >= 0 && params.drop(firstDefault).exists(_._2.isEmpty))
      fail("CREATE MACRO: parameters with defaults must come last")
    val TableBody = """(?is)^table\s+(.*)$""".r
    val body = bodyTxt match {
      case TableBody(q) => Right(graft.sql.Parser.parse(q))
      case e => Left(Parser.parseExpression(e))
    }
    macros.put(lower, Macros.Macro(lower, params.map(_._1),
      params.collect { case (p, Some(d)) => p -> d }.toMap, body))
    status("macro", lower)
  }

  /** Names the parser or translator generates/special-cases that a
    * macro may not shadow (some are not in Spark's registry under
    * these spellings — the translator's DuckDB-dialect cases and
    * alias pack included, else `create macro list_sort(l) as l`
    * would silently disable the builtin lowering session-wide). */
  private val parserReservedFns: Set[String] = Set(
    "array", "transform", "filter", "named_struct", "position",
    "substring", "element_at", "string_split", "array_to_string",
    "raise_error", "list_transform", "list_filter", "array_transform",
    "array_filter", "aggregate", "reduce", "unnest", "columns",
    // r12 temporal/alias-pack cases (Translator.scalarFunc)
    "strftime", "strptime", "date_diff", "datediff", "date_part",
    "datepart", "list_contains", "array_has", "list_position",
    "list_indexof", "list_sort", "list_reverse_sort", "list_has_any",
    "list_has_all", "list_unique", "starts_with", "ends_with",
    "prefix", "suffix", "regexp_matches", "regexp_full_match")

  private sealed trait MergeAction
  private case object DeleteAct extends MergeAction
  private case object UpdateStar extends MergeAction
  private final case class UpdateCols(assigns: Seq[(String, String)]) extends MergeAction
  private case object InsertStar extends MergeAction
  private final case class InsertCols(cols: Seq[String], exprs: Seq[String]) extends MergeAction
  // cat: 0 = WHEN MATCHED, 1 = WHEN NOT MATCHED [BY TARGET],
  //      2 = WHEN NOT MATCHED BY SOURCE
  private final case class MergeClause(cat: Int, cond: Option[String],
                                       act: MergeAction)

  /** Wraps a VALUES body as a selectable derived table. */
  private def insertSrcSql(body: String): String =
    if (body.trim.toLowerCase.startsWith("values"))
      s"select * from ($body) __ins"
    else body

  /** The INSERT source as a full-target-schema frame: listed columns
    * take the source positionally, unlisted ones read NULL;
    * assignment-casts to the target types (the standard INSERT
    * semantics). colList = None takes the source positionally across
    * ALL target columns. */
  private def insertFilled(target: DataFrame, name: String,
                           colList: Option[String],
                           src: String): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    val cols = colList match {
      case Some(cl) => Spans.split(cl, ",").map(column(target, name, _, "INSERT"))
      case None => target.columns.toSeq
    }
    if (cols.distinct.length != cols.length)
      fail("INSERT column list names a column twice")
    val srcDf = translateOnly(src)
    if (srcDf.columns.length != cols.length)
      fail(s"INSERT: ${cols.length} columns listed but the source " +
        s"has ${srcDf.columns.length}")
    val renamed = srcDf.toDF(cols: _*)
    renamed.select(target.schema.fields.toSeq.map { f =>
      if (cols.exists(_.equalsIgnoreCase(f.name)))
        F.col(f.name).cast(f.dataType).as(f.name)
      else F.lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** INSERT ... ON CONFLICT (r10, VERDICT r9 #4): the PostgreSQL
    * upsert spelling, lowered through the MERGE clause matrix. The
    * proposed row is visible as `excluded` (PostgreSQL's alias) in DO
    * UPDATE SET expressions; unlisted columns of a column-list INSERT
    * read NULL there, as PostgreSQL's defaults-free excluded row
    * does. DO NOTHING keeps conflicting proposals out (insert-only
    * MERGE leg, no cardinality guard); DO UPDATE inherits MERGE's
    * rule — one target row claimed by >1 proposed rows raises the
    * cardinality violation, the engine analog of PostgreSQL's
    * "cannot affect row a second time". The conflict target column
    * list is REQUIRED (there is no unique-constraint registry to
    * infer it from). */
  private def insertOnConflict(name: String, colList: Option[String],
                               body: String, tail: String): DataFrame = {
    val target = lookup(name)
    val OcRe =
      """(?is)^\s*(?:\(([^)]*)\)\s*)?do\s+(?:(nothing)|update\s+set\s+(.*?))\s*;?\s*$""".r
    val (keysTxt, setList) = tail match {
      case OcRe(ks, n2, sl) =>
        if (n2 != null) (Option(ks), None) else (Option(ks), Some(sl))
      case _ => fail("ON CONFLICT expects [(key cols)] DO NOTHING or " +
        s"DO UPDATE SET assignments, got: $tail")
    }
    val keys = keysTxt.map(ks =>
      Spans.split(ks, ",").map(column(target, name, _, "ON CONFLICT"))
    ).getOrElse(fail("ON CONFLICT requires an explicit conflict " +
      "target column list — there is no unique-constraint registry " +
      "to infer one from"))
    if (keys.isEmpty) fail("ON CONFLICT key list is empty")
    val filled = insertFilled(target, name, colList, insertSrcSql(body))
    val tmp = "__ins_conflict_src"
    registerTable(tmp, filled)
    try {
      // bare same-named keys (both frames carry the full target
      // schema); two proposed rows sharing a key that is ABSENT from
      // the target both insert — set semantics, vs PostgreSQL's
      // row-at-a-time self-conflict skip
      val onTxt = keys.map(k => s"$k = $k").mkString(" and ")
      val restTxt = setList match {
        case Some(sl) => s"$onTxt when matched then update set $sl " +
          "when not matched then insert *"
        case None => s"$onTxt when not matched then insert *"
      }
      mergeStatement(name, None, tmp, Some("excluded"), restTxt)
    } finally removeTable(tmp)
    status("inserted", name.toLowerCase)
  }

  /** The target and source frames of a MERGE (and of the UPDATE ...
    * FROM and ON CONFLICT forms lowered through it): which frame an
    * expression text reads, and rewriting its qualified refs. */
  private final class Frames(tName: String, tAlias: Option[String],
                             sName: String, sAlias: Option[String]) {
    val target: DataFrame = lookup(tName)
    val source: DataFrame = lookup(sName)
    val tQuals: Set[String] = Set(tName.toLowerCase) ++ tAlias.map(_.toLowerCase)
    val sQuals: Set[String] = Set(sName.toLowerCase) ++ sAlias.map(_.toLowerCase)
    def inT(c: String): Boolean = target.columns.exists(_.equalsIgnoreCase(c))
    def inS(c: String): Boolean = source.columns.exists(_.equalsIgnoreCase(c))

    /** (reads the target, reads the source). Qualified refs decide by
      * qualifier; bare refs — and struct fields of bare columns,
      * `col.field` — by the frame carrying the column: a column of
      * both frames must qualify, an unknown qualifier is a typo'd
      * alias (both loud; r9 ADVICE: a silent skip surfaced as a
      * confusing downstream analysis error). */
    def sides(e: String): (Boolean, Boolean) = {
      var t = false; var s = false
      Spans.mapRefs(e) { (q, c) =>
        q.map(_.toLowerCase) match {
          case Some(x) if tQuals(x) => t = true
          case Some(x) if sQuals(x) => s = true
          case _ =>
            val id = q.getOrElse(c)
            if (inT(id) && inS(id))
              fail(s"bare column '$id' exists in both the target and the " +
                "source frame — qualify it (t.col / s.col)")
            if (q.isDefined && !inT(id) && !inS(id))
              fail(s"unknown alias or column '$id' in: $e (known " +
                s"qualifiers: ${(tQuals ++ sQuals).toSeq.sorted.mkString(", ")})")
            t ||= inT(id); s ||= inS(id)
        }
        None
      }
      (t, s)
    }

    /** `e` with each qualified ref replaced by `tMap(col)` (target
      * qualifier) or `sMap(col)` (source qualifier), col spelled as in
      * its frame; bare refs stay. */
    def rewrite(e: String, tMap: String => String,
                sMap: String => String): String =
      Spans.mapRefs(e) {
        case (Some(q), c) if tQuals(q.toLowerCase) =>
          Some(tMap(target.columns.find(_.equalsIgnoreCase(c))
            .getOrElse(fail(s"MERGE: column '$c' not in target"))))
        case (Some(q), c) if sQuals(q.toLowerCase) =>
          Some(sMap(source.columns.find(_.equalsIgnoreCase(c))
            .getOrElse(fail(s"MERGE: column '$c' not in source"))))
        case _ => None
      }
  }

  /** UPDATE ... FROM (r9): the PostgreSQL join-update form, lowered
    * through the MERGE target-leg machinery. WHERE conjuncts are
    * classified: target=source equalities become the MERGE ON keys
    * (at least one required); source-only conjuncts PRE-FILTER the
    * source (so the >1-match guard never fires on source rows the
    * condition excludes — closer to PostgreSQL, and a smaller join);
    * everything else rides WHEN MATCHED AND. Multi-match after the
    * pre-filter raises MERGE's cardinality violation — STRICTER than
    * PostgreSQL, which silently applies an arbitrary matching row. */
  private def updateFromStatement(tName: String, tAlias: Option[String],
                                  setList: String,
                                  fromTail: String): DataFrame = {
    lookup(tName) // an unknown target is loud before the source registers
    val FromRe =
      ("""(?is)^\s*(?:"([^"]+)"|([a-zA-Z_][a-zA-Z0-9_]*))""" +
       """(?:\s+(?:as\s+)?([a-zA-Z_][a-zA-Z0-9_]*))?\s*$""").r
    val (fromPart, cond) = Spans.around(fromTail, "where").headOption
      .getOrElse(fail("UPDATE ... FROM requires a WHERE with at least " +
        "one target=source equality conjunct (the join key)"))
    // FROM (subquery) alias (r9): register the derived source's lazy
    // plan under a reserved name — the composed MERGE plan captures
    // the DataFrame, so the name unregisters on exit
    val (sName, sAlias, tmpSub) = fromPart match {
      case fp if fp.startsWith("(") =>
        val (_, sub, after) = Spans.parenGroup(fp)
        val al = """(?is)^\s*(?:as\s+)?([a-zA-Z_][a-zA-Z0-9_]*)\s*$""".r
          .findFirstMatchIn(after).map(_.group(1))
          .getOrElse(fail(
            "UPDATE ... FROM (subquery) requires an alias"))
        val tmp = "__upd_from_sub"
        registerTable(tmp, translateOnly(sub))
        (tmp, Some(al), true)
      case FromRe(q2, b2, al) =>
        (Option(q2).getOrElse(b2), Option(al), false)
      case other => fail("UPDATE ... FROM supports a single table or " +
        s"(subquery) alias source, got: $other")
    }
    try {
    val fr = new Frames(tName, tAlias, sName, sAlias)
    val onKeys = Seq.newBuilder[String]
    val srcOnly = Seq.newBuilder[String]
    val residual = Seq.newBuilder[String]
    Spans.split(cond, "and").map(Spans.stripParens).foreach { c =>
      val isKey = Spans.equality(c).exists { case (l, r) =>
        val (lt, ls) = fr.sides(l)
        val (rt, rs) = fr.sides(r)
        (lt && !ls && rs && !rt) || (ls && !lt && rt && !rs)
      }
      if (isKey) onKeys += c
      else {
        val (t2, s2) = fr.sides(c)
        if (s2 && !t2) srcOnly += c else residual += c
      }
    }
    val keys = onKeys.result()
    if (keys.isEmpty)
      fail("UPDATE ... FROM requires at least one target=source " +
        "equality conjunct in WHERE (the join key)")
    val res = residual.result()
    val andTxt =
      if (res.isEmpty) "" else s" and ${res.map(c => s"($c)").mkString(" and ")}"
    val restTxt =
      s"${keys.mkString(" and ")} when matched$andTxt then update set $setList"
    val srcConds = srcOnly.result()
    if (srcConds.isEmpty)
      mergeStatement(tName, tAlias, sName, sAlias, restTxt)
    else {
      val sEff = sAlias.getOrElse(sName)
      val tmp = "__upd_src"
      registerTable(tmp, translateOnly(
        s"""select * from "$sName" as $sEff where """ +
        srcConds.map(c => s"($c)").mkString(" and ")))
      try mergeStatement(tName, tAlias, tmp, Some(sEff), restTxt)
      finally removeTable(tmp)
    }
    status("updated", tName.toLowerCase)
    } finally if (tmpSub) removeTable(sName)
  }

  /** MERGE INTO lowering (r8 general form; r9 generalizes ON to
    * differently-named and expression equality keys). The registry
    * holds LAZY plans, so the statement re-registers a composed plan.
    * Semantics follow the standard + Delta:
    *  - WHEN clauses evaluate per row IN ORDER; the first clause of
    *    the row's category whose condition holds applies; no clause →
    *    the target row is kept unchanged / the source row is ignored.
    *  - A target row matching MORE THAN ONE source row while any
    *    MATCHED clause exists is a cardinality violation (SQL:2016)
    *    — enforced LAZILY via a raise_error FILTER over the joined
    *    frame (r8 ADVICE: a projected guard column was pruned away by
    *    queries not reading an assigned column), so the plan stays
    *    unexecuted at statement time and errors at first action.
    *    The guard fires whenever ANY matched clause exists, even if
    *    no clause condition applies to the >1-matched row —
    *    SQL:2016's blunter reading, stricter than Delta's
    *    "would-be-modified" rule.
    *  - A non-last clause of a category without an AND condition
    *    shadows everything after it — rejected loudly (Delta's rule).
    *
    * Plan shape at scale: one per-key count window on the SOURCE
    * (same shuffle key as the join, so the exchange is shared), one
    * left join target↔source on the keys, a single projection of
    * per-column CASE chains, plus one anti join for the insert leg —
    * no driver-side action, nothing materializes. */
  private def mergeStatement(tName: String, tAlias: Option[String],
                             sName: String, sAlias: Option[String],
                             rest: String): DataFrame = {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.expressions.Window
    val fr = new Frames(tName, tAlias, sName, sAlias)
    val target = fr.target; val source = fr.source
    val segs = Spans.split(rest, "when")
    if (segs.length < 2) fail("MERGE requires at least one WHEN clause")
    val onCond = segs.head

    // ON: equality conjuncts, each comparing a TARGET-side expression
    // with a SOURCE-side expression (r9: differently-named columns —
    // `t.id = s.src_id` — and expression keys — `t.k = s.k + 1` —
    // join through computed key columns; same-named bare keys keep
    // working). Non-equality conjuncts stay loud: the keyed-
    // maintenance lowering needs hash-joinable keys, residual
    // predicates belong in WHEN ... AND.
    def q(c: String) = "\"" + c + "\""
    // ON conjunct classification (r9): two-sided equalities become
    // the JOIN KEYS; everything else is a RESIDUAL — part of the match condition (a
    // key-matched row failing the residual is NOT MATCHED: matched
    // clauses skip it, BY SOURCE sees it, the insert leg admits its
    // source row). Residuals must qualify every frame ref — they
    // evaluate in differently-named frames per leg.
    val keyB = Seq.newBuilder[(String, String)]
    val resB = Seq.newBuilder[String]
    Spans.split(onCond, "and").map(Spans.stripParens).foreach { c =>
      val asKey: Option[(String, String)] =
        Spans.equality(c).flatMap { case (lhs, rhs) =>
          (Spans.ref(lhs), Spans.ref(rhs)) match {
            // legacy same-named bare key (`ON k = k`): both sides
            // read the like-named column of their own frame
            case (Some((None, a)), Some((None, b))) if a.equalsIgnoreCase(b) &&
                fr.inT(a) && fr.inS(a) =>
              Some((q(target.columns.find(_.equalsIgnoreCase(a)).get),
                    q(source.columns.find(_.equalsIgnoreCase(a)).get)))
            case _ =>
              val (lt, ls) = fr.sides(lhs)
              val (rt, rs) = fr.sides(rhs)
              val oriented =
                if (lt && !ls && rs && !rt) Some((lhs, rhs))
                else if (ls && !lt && rt && !rs) Some((rhs, lhs))
                else None
              oriented.map { case (tTxt, sTxt) =>
                (fr.rewrite(tTxt, q,
                   _ => fail("MERGE ON: source ref on the target side")),
                 fr.rewrite(sTxt,
                   _ => fail("MERGE ON: target ref on the source side"), q))
              }
          }
        }
      asKey match {
        case Some(k) => keyB += k
        case None =>
          Spans.mapRefs(c) {
            case (None, id) if fr.inT(id) || fr.inS(id) =>
              fail("MERGE ON non-key conjuncts must qualify every " +
                s"column reference (t.col / s.col); got bare '$id' in: $c")
            case _ => None
          }
          resB += c
      }
    }
    val keys = keyB.result()
    val residuals = resB.result()
    if (keys.isEmpty)
      fail("MERGE ON requires at least one target=source equality " +
        s"conjunct (the hash-join key), got: $onCond")
    val tKeyNs = keys.indices.map(i => s"__t_key_$i")
    val sKeyNs = keys.indices.map(i => s"__s_key_$i")
    // computed key columns ride each frame through the dialect; the
    // final projections select only the target's columns, so the key
    // columns never surface
    def attachKeys(df: DataFrame, base: String, exprs: Seq[String],
                   names: Seq[String]): DataFrame = {
      val tmp = s"__merge_keys_$base"
      registerTable(tmp, df)
      try {
        val cols = df.columns.map(q).mkString(", ")
        val ks = exprs.zip(names)
          .map { case (e, n2) => s"($e) as ${q(n2)}" }.mkString(", ")
        translateOnly(s"select $cols, $ks from $tmp")
      } finally removeTable(tmp)
    }
    val targetK = attachKeys(target, "t", keys.map(_._1), tKeyNs)
    val sourceK = attachKeys(source, "s", keys.map(_._2), sKeyNs)
    def keyCond: org.apache.spark.sql.Column =
      tKeyNs.zip(sKeyNs).map { case (a, b) =>
        org.apache.spark.sql.functions.col(a) ===
          org.apache.spark.sql.functions.col(b)
      }.reduce(_ && _)

    // ---- parse the WHEN clauses
    val HeadRe =
      """(?is)^\s*(not\s+)?matched(?:\s+by\s+(source|target))?(?:\s+and\s+(.*?))?\s*$""".r
    val clauses = segs.tail.map { seg =>
      val (head, actTxt) = Spans.around(seg, "then").headOption
        .getOrElse(fail(s"MERGE WHEN clause missing THEN: $seg"))
      val (not, by, cond) = head match {
        case HeadRe(n, b2, c) =>
          (n != null, Option(b2).map(_.toLowerCase), Option(c).map(_.trim))
        case _ => fail(s"cannot parse MERGE WHEN clause: when $seg")
      }
      val cat = (not, by) match {
        case (false, None)           => 0
        case (true, None)            => 1
        case (true, Some("target"))  => 1
        case (true, Some("source"))  => 2
        case (false, Some(b3)) =>
          fail(s"WHEN MATCHED BY ${b3.toUpperCase} is not a MERGE form " +
            "(BY SOURCE/TARGET qualify NOT MATCHED)")
        case (true, Some(b3)) => fail(s"unknown MERGE qualifier BY $b3")
      }
      val act: MergeAction = actTxt match {
        case a if a.matches("(?is)^delete$") =>
          if (cat == 1) fail("MERGE: WHEN NOT MATCHED cannot DELETE " +
            "(no target row exists)")
          DeleteAct
        case a if a.matches("(?is)^update\\s+set\\s+\\*$") =>
          if (cat == 1) fail("MERGE: WHEN NOT MATCHED cannot UPDATE")
          if (cat == 2) fail("MERGE: NOT MATCHED BY SOURCE cannot " +
            "UPDATE SET * (no source row exists)")
          UpdateStar
        case a if a.matches("(?is)^update\\s+set\\s+.*$") =>
          if (cat == 1) fail("MERGE: WHEN NOT MATCHED cannot UPDATE")
          val setList = a.replaceFirst("(?is)^update\\s+set\\s+", "")
          UpdateCols(Spans.split(setList, ",").map { asn =>
            val (lhs, e) = Spans.around(asn, "=").headOption.getOrElse(
              fail(s"MERGE UPDATE SET expects col = expr, got: $asn"))
            // optionally target-qualified on the left side
            column(target, tName, lhs, "MERGE UPDATE", fr.tQuals) -> e
          })
        case a if a.matches("(?is)^insert\\s+\\*$") =>
          if (cat == 0) fail("MERGE: WHEN MATCHED cannot INSERT")
          if (cat == 2) fail("MERGE: NOT MATCHED BY SOURCE cannot INSERT")
          InsertStar
        case a if a.matches("(?is)^insert\\s*\\(.*$") =>
          if (cat == 0) fail("MERGE: WHEN MATCHED cannot INSERT")
          if (cat == 2) fail("MERGE: NOT MATCHED BY SOURCE cannot INSERT")
          val m = """(?is)^insert\s*\((.*?)\)\s*values\s*\((.*)\)\s*$"""
            .r.findFirstMatchIn(a).getOrElse(
              fail(s"MERGE INSERT expects INSERT (cols) VALUES (exprs): $a"))
          val cols = Spans.split(m.group(1), ",")
            .map(column(target, tName, _, "MERGE INSERT"))
          val exprs = Spans.split(m.group(2), ",")
          if (cols.length != exprs.length)
            fail("MERGE INSERT: column/value count mismatch")
          InsertCols(cols, exprs)
        case a => fail(s"MERGE: unsupported action '$a'")
      }
      MergeClause(cat, cond, act)
    }

    // Delta's shadowing rule: within a category, only the LAST clause
    // may omit its AND condition
    Seq(0, 1, 2).foreach { cat =>
      val inCat = clauses.filter(_.cat == cat)
      inCat.dropRight(1).find(_.cond.isEmpty).foreach { _ =>
        fail("MERGE: only the last WHEN clause of a kind may omit " +
          "its AND condition (earlier unconditional clauses shadow " +
          "the rest)")
      }
    }
    val matchedCls = clauses.filter(_.cat == 0)
    val insertCls  = clauses.filter(_.cat == 1)
    val bySrcCls   = clauses.filter(_.cat == 2)
    val starNeedsSchema = clauses.exists(c =>
      c.act == UpdateStar || c.act == InsertStar)
    if (starNeedsSchema) {
      val sameCols = target.columns.map(_.toLowerCase).sorted
        .sameElements(source.columns.map(_.toLowerCase).sorted)
      if (!sameCols) fail("MERGE UPDATE SET * / INSERT * require " +
        "matching target/source schemas")
    }

    val sQ = (c: String) => "\"__s_" + c.toLowerCase + "\""
    def rw(e: String): String = fr.rewrite(e, q, sQ)

    // ---- target-side leg: kept + matched-updated + by-source-updated
    val targetLeg: DataFrame =
      if (matchedCls.isEmpty && bySrcCls.isEmpty) target
      else {
        val joined =
          if (matchedCls.nonEmpty) {
            // full source columns ride the join (a MATCHED clause
            // reads per-row source values — the single-joined-row
            // assumption the per-column CASE needs). The per-key
            // count (window on the join's own shuffle key) feeds the
            // lazy cardinality guard. The guard rides a FILTER, not a
            // projected column (r8 ADVICE): column pruning removes
            // projections a downstream query doesn't read, but never
            // a filter — `select count(*) from t` still trips it.
            // Semantics note: it raises whenever a matched target row
            // has >1 source matches and ANY MATCHED clause exists,
            // even if no clause condition applies to that row —
            // SQL:2016's blunter reading, stricter than Delta.
            val sRen = sourceK.select(
              source.columns.toSeq.map(c =>
                F.col(c).as("__s_" + c.toLowerCase)) ++
              sKeyNs.map(F.col) :+
              F.lit(1).as("__s_exists"): _*)
            val wk = Window.partitionBy(sKeyNs.map(F.col): _*)
            val sCnt = sRen.withColumn("__s_cnt", F.count(F.lit(1)).over(wk))
            targetK.join(sCnt, keyCond, "left_outer")
              .filter(F.when(F.col("__s_cnt") > 1, F.raise_error(F.lit(
                  "MERGE cardinality violation: a target row matches " +
                  "more than one source row")).cast("boolean"))
                .otherwise(F.lit(true)))
          } else if (residuals.nonEmpty) {
            // BY-SOURCE-only with ON residuals (r10, r9 ADVICE): with
            // no MATCHED clause SQL:2016 permits multi-match (matched
            // rows pass through unchanged), so the row-multiplying
            // guarded join is wrong — tag each target row, evaluate
            // the key+residual match per joined pair, fold ANY-true
            // per tag, and keep one row per tag. BY SOURCE conditions
            // and assignments must not read source columns (no
            // matching source row exists when the clause applies) —
            // enforced loudly below, so the surviving arbitrary
            // source values are never read.
            (bySrcCls.flatMap(_.cond) ++ bySrcCls.flatMap(_.act match {
              case UpdateCols(as) => as.map(_._2)
              case _              => Seq.empty
            })).foreach { e =>
              if (fr.sides(e)._2)
                fail("MERGE: a NOT MATCHED BY SOURCE condition or " +
                  s"assignment cannot reference source columns: $e")
            }
            val tTag = targetK.withColumn("__t_rid",
              F.monotonically_increasing_id())
            val sRen = sourceK.select(
              source.columns.toSeq.map(c =>
                F.col(c).as("__s_" + c.toLowerCase)) ++
              sKeyNs.map(F.col) :+
              F.lit(1).as("__s_exists"): _*)
            val j0 = tTag.join(sRen, keyCond, "left_outer")
            val tmp0 = "__merge_mflag"
            registerTable(tmp0, j0)
            val withM = try {
              val matchTxt = (Seq("\"__s_exists\" = 1") ++
                residuals.map(r => s"(${rw(r)})")).mkString(" and ")
              translateOnly(s"""select *, ($matchTxt) as "__m" from $tmp0""")
            } finally removeTable(tmp0)
            val wr = Window.partitionBy(F.col("__t_rid"))
            withM
              .withColumn("__s_matched",
                F.max(F.when(F.col("__m"), 1).otherwise(0)).over(wr))
              .withColumn("__rn", F.row_number().over(
                wr.orderBy(F.col("__t_rid"))))
              .filter(F.col("__rn") === 1)
          } else {
            // no matched clause → only the existence flag is needed;
            // a distinct key join cannot multiply target rows
            val sKeys = sourceK.select(sKeyNs.map(F.col): _*).distinct()
              .withColumn("__s_exists", F.lit(1))
            targetK.join(sKeys, keyCond, "left_outer")
          }
        // compose the per-column CASE projection through the graft
        // dialect (conditions/exprs are user dialect text)
        val tmp = s"__merge_${tName.toLowerCase}"
        registerTable(tmp, joined)
        try {
          val rowCls = clauses.filter(c => c.cat == 0 || c.cat == 2)
          // BY-SOURCE-only + residuals rides the tag/fold branch above,
          // which pre-computes the per-target-row flag
          val flagMode = matchedCls.isEmpty && residuals.nonEmpty
          def clauseCond(c: MergeClause): String = {
            // the MATCH condition = key existence AND the ON
            // residuals (3VL: a NULL residual is not-matched); BY
            // SOURCE = its strict negation
            val matchTxt = (Seq("\"__s_exists\" = 1") ++
              residuals.map(r => s"(${rw(r)})")).mkString(" and ")
            val m = if (flagMode) "\"__s_matched\" = 0"
                    else if (c.cat == 0) s"($matchTxt)"
                    else if (residuals.isEmpty) "\"__s_exists\" is null"
                    else s"not coalesce(($matchTxt), false)"
            c.cond match {
              case Some(p) => s"($m) and (${rw(p)})"
              case None    => m
            }
          }
          val assigned: Set[String] = rowCls.flatMap(c => c.act match {
            case UpdateStar        => target.columns.toSeq
            case UpdateCols(as)    => as.map(_._1)
            case _                 => Seq.empty
          }).toSet
          val items = target.columns.map { c =>
            if (!assigned.contains(c)) s"${q(c)}"
            else {
              val branches = rowCls.map { cl =>
                val v = cl.act match {
                  case UpdateStar     => sQ(c)
                  case UpdateCols(as) =>
                    as.find(_._1 == c).map(a => s"(${rw(a._2)})").getOrElse(q(c))
                  case DeleteAct      => q(c) // row dropped by the filter
                  case _              => q(c)
                }
                s"when ${clauseCond(cl)} then $v"
              }
              s"case ${branches.mkString(" ")} else ${q(c)} end as ${q(c)}"
            }
          }
          val delCase = {
            val branches = rowCls.map { cl =>
              val v = if (cl.act == DeleteAct) "true" else "false"
              s"when ${clauseCond(cl)} then $v"
            }
            s"case ${branches.mkString(" ")} else false end"
          }
          val whereTxt =
            if (rowCls.exists(_.act == DeleteAct)) s" where not ($delCase)"
            else ""
          translateOnly(
            s"select ${items.mkString(", ")} from $tmp$whereTxt")
        } finally removeTable(tmp)
      }

    // ---- insert leg: source rows with no target match
    val insertLeg: Option[DataFrame] =
      if (insertCls.isEmpty) None
      else {
        // key-only ON: anti join on the distinct target keys. With ON
        // residuals, NOT MATCHED means "no target row satisfies keys
        // AND residuals" — lowered as a correlated NOT EXISTS through
        // the dialect (decorrelates to the same key anti-join with
        // the residual riding the join condition).
        val notMatched =
          if (residuals.isEmpty)
            sourceK.join(
                targetK.select(tKeyNs.map(F.col): _*).distinct(),
                keyCond, "left_anti")
              .select(source.columns.toSeq.map(F.col): _*)
          else {
            val tmpS = "__merge_ins_src"; val tmpT = "__merge_ins_tgt"
            registerTable(tmpS, source); registerTable(tmpT, target)
            try {
              // key texts hold bare refs of one frame each: qualify
              // them, or a same-named key would compare t.k with t.k
              def qualify(e: String, al: String, cols: Array[String]) =
                "(" + Spans.mapRefs(e) {
                  case (None, c) =>
                    cols.find(_.equalsIgnoreCase(c)).map(col => s"$al.${q(col)}")
                  case _ => None
                } + ")"
              val keyConds = keys.map { case (t, s2) =>
                s"${qualify(t, "t", target.columns)} = " +
                  qualify(s2, "s", source.columns)
              }
              def inSub(e: String) =
                "(" + fr.rewrite(e, c => "t." + q(c), c => "s." + q(c)) + ")"
              translateOnly(
                s"select s.* from $tmpS as s where not exists " +
                s"(select 1 from $tmpT as t where " +
                (keyConds ++ residuals.map(inSub)).mkString(" and ") + ")")
            } finally { removeTable(tmpS); removeTable(tmpT) }
          }
        val tmp = s"__merge_src_${sName.toLowerCase}"
        registerTable(tmp, notMatched)
        try {
          // source-frame rewriting: s-quals → bare source columns;
          // target refs have no row here and fail loudly
          def rwS(e: String): String =
            fr.rewrite(e, _ => fail("MERGE INSERT expressions cannot " +
              "reference the target (no target row exists for NOT MATCHED)"),
              q)
          val conds = insertCls.map(c => c.cond.map(rwS))
          val filt = {
            val ors = conds.map(_.getOrElse("true")).map(c => s"($c)")
            if (conds.exists(_.isEmpty)) "" // an unconditional clause admits all
            else s" where ${ors.mkString(" or ")}"
          }
          val items = target.columns.map { c =>
            val branches = insertCls.map { cl =>
              val condTxt = cl.cond.map(rwS).map(p => s"($p)").getOrElse("true")
              val v = cl.act match {
                case InsertStar => q(c)
                case InsertCols(cols, exprs) =>
                  cols.zip(exprs).find(_._1 == c)
                    .map(a => s"(${rwS(a._2)})").getOrElse("null")
                case _ => "null"
              }
              s"when $condTxt then $v"
            }
            s"case ${branches.mkString(" ")} else null end as ${q(c)}"
          }
          val leg = translateOnly(
            s"select ${items.mkString(", ")} from $tmp$filt")
          // per-column cast to the TARGET types: all-null CASE arms
          // land as NullType and assignment-casting is the standard's
          // INSERT semantics anyway
          Some(leg.select(target.schema.fields.toSeq.map(f =>
            F.col(f.name).cast(f.dataType).as(f.name)): _*))
        } finally removeTable(tmp)
      }

    val merged = insertLeg.fold(targetLeg)(targetLeg.unionByName)
    registerTable(tName, merged)
    status("merged", tName.toLowerCase)
  }

  private def translateOnly(sqlText: String): DataFrame = {
    val ast0 = Parser.parse(sqlText)
    // macro expansion pre-pass (r11c): pure AST substitution — with
    // no macros registered the tree passes through untouched (builtin
    // generate_series/range lower in the translator)
    val ast =
      if (macros.isEmpty) ast0
      else new MacroExpander(n => macros.get(n)).apply(ast0)
    new Translator(lookup, spark).translate(ast)
  }

  /** Formatted physical plan of `sqlText` — the plan-inspection
    * surface (`.explain("formatted")` for a query without executing
    * it): scans with PushedFilters/ReadSchema, exchanges, join
    * strategies, codegen stages. */
  def explain(sqlText: String): String =
    query(sqlText).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
}

object Graft {
  def apply(spark: SparkSession): Graft = new Graft(spark)

  // base-table reads per (session, dir) — each `spark.read.parquet`
  // is a driver-side schema/footer read, and statement-family bench
  // entries build a FRESH Graft per call (their macros/views/DML must
  // not leak across entries), which used to pay 10 parquet footer
  // reads per entry per round (~0.7-1.0 s each, VERDICT r11 #7). The
  // DataFrames are immutable logical plans — sharing them across
  // Graft instances is safe; only the registry map is per-session.
  private val dirTables =
    TrieMap.empty[(SparkSession, String), Seq[(String, org.apache.spark.sql.DataFrame)]]

  /** Drops cached base-table reads (stale-dir-listing hygiene across
    * bench/verify runs; mirrored by SparkEntry.clearCaches). */
  def clearDirCache(): Unit = dirTables.clear()

  /** Convenience: a Graft session with all testdata tables of a
    * scale-factor directory registered under their TPC-H-ish names.
    *
    * CACHING CONTRACT (r12): base-table reads are memoized per
    * (session, dir) for the JVM lifetime — repeated forDir calls are
    * cheap, but after REWRITING a directory's parquet files callers
    * must [[clearDirCache]] (Bench/Verify do, via
    * SparkEntry.clearCaches) or the next session serves the stale
    * file listing. */
  def forDir(spark: SparkSession, dir: String): Graft = {
    // events.parquet carries ns timestamps; without this runtime conf
    // Spark's schema read throws PARQUET_TYPE_ILLEGAL. Set defensively
    // so sessions we didn't build (the driver's) work too.
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    val g = new Graft(spark)
    val base = dirTables.getOrElseUpdate((spark, dir), {
      // existence probe via Hadoop FS, not java.io.File — registration
      // must work for hdfs:// / s3a:// table directories, not just
      // local disk (VERDICT r1 #10)
      val conf = spark.sessionState.newHadoopConf()
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings").flatMap { t =>
        val path = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
        val exists =
          try path.getFileSystem(conf).exists(path)
          catch { case _: Throwable => false }
        if (!exists) None
        else
          try Some(t -> spark.read.parquet(path.toString))
          catch { case e: Throwable =>
            System.err.println(s"[graft] skipping table $t: ${e.getMessage}")
            None
          }
      }
    })
    base.foreach { case (t, df) => g.registerTable(t, df) }
    g
  }
}
