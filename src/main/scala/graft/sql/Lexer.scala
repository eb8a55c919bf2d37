package graft.sql

/** Hand-written SQL tokenizer — the one place SQL's lexical rules
  * live: string literals with `''` escapes, double-quoted identifiers,
  * `--` line comments, numbers and operators.
  *
  * Token classes follow the reference grammar's terminals
  * (/root/reference/sql_to_ibis/grammar/sql.lark:132-163): CNAME
  * identifiers, double-quoted identifiers, single-quoted strings,
  * numbers, and the operator/punctuation set. `;`, `?` and `$` lex
  * for the statement layer ([[Spans]]: script splitting, prepared
  * statement placeholders); the [[Parser]] rejects them.
  *
  * Every token carries its start (`pos`) and end offset in the source
  * text; an identifier was quoted iff the source character at its
  * `pos` is `"`.
  */
object Lexer {
  sealed trait Token { def pos: Int; def end: Int }
  final case class Ident(value: String, pos: Int)(val end: Int) extends Token // bare or "quoted"
  final case class Str(value: String, pos: Int)(val end: Int) extends Token   // 'string literal'
  final case class Num(value: String, pos: Int)(val end: Int) extends Token
  // = <> != <= >= < > + - * / % ( ) , . [ ] { } : || :: -> ; ? $
  final case class Op(value: String, pos: Int)(val end: Int) extends Token
  final case class End(pos: Int) extends Token { def end: Int = pos }

  final case class LexException(msg: String) extends RuntimeException(msg)

  def tokenize(sql: String): Vector[Token] = {
    val out = Vector.newBuilder[Token]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
        out += Ident(sql.substring(start, i), start)(i)
      } else if (c.isDigit || (c == '.' && i + 1 < n && sql.charAt(i + 1).isDigit)) {
        val start = i
        while (i < n && (sql.charAt(i).isDigit || sql.charAt(i) == '.' ||
               sql.charAt(i) == 'e' || sql.charAt(i) == 'E' ||
               ((sql.charAt(i) == '+' || sql.charAt(i) == '-') && i > start &&
                (sql.charAt(i - 1) == 'e' || sql.charAt(i - 1) == 'E')))) i += 1
        out += Num(sql.substring(start, i), start)(i)
      } else if (c == '\'') {
        val start = i
        i += 1
        val sb = new StringBuilder
        var closed = false
        while (i < n && !closed) {
          val ch = sql.charAt(i)
          if (ch == '\'') {
            if (i + 1 < n && sql.charAt(i + 1) == '\'') { sb += '\''; i += 2 } // '' escape
            else { closed = true; i += 1 }
          } else { sb += ch; i += 1 }
        }
        if (!closed) throw LexException(s"unterminated string literal at $start")
        out += Str(sb.toString, start)(i)
      } else if (c == '"') {
        val start = i
        i += 1
        val sb = new StringBuilder
        var closed = false
        while (i < n && !closed) {
          val ch = sql.charAt(i)
          if (ch == '"') { closed = true; i += 1 } else { sb += ch; i += 1 }
        }
        if (!closed) throw LexException(s"unterminated quoted identifier at $start")
        out += Ident(sb.toString, start)(i)
      } else {
        val two = if (i + 1 < n) sql.substring(i, i + 2) else ""
        if (two == "<>" || two == "!=" || two == "<=" || two == ">=" ||
            two == "||" || two == "::" || two == "->") {
          out += Op(two, i)(i + 2); i += 2
        } else if ("=<>+-*/%(),.[]{}:;?$".indexOf(c) >= 0) {
          out += Op(c.toString, i)(i + 1); i += 1
        } else throw LexException(s"unexpected character '$c' at $i")
      }
    }
    out += End(n)
    out.result()
  }
}

/** Span helpers for the statement layer ([[graft.Graft]]'s DML, MERGE,
  * COPY, PREPARE/EXECUTE, CREATE MACRO and scripts). Each takes SQL
  * text, tokenizes it with [[Lexer]] and cuts pieces of the ORIGINAL
  * text from one token's start to another token's end — so strings,
  * quoted identifiers and comments follow the parser's rules exactly,
  * and a piece never begins or ends in whitespace or a comment (a
  * trailing `--` comment cannot swallow text appended after a piece).
  * "Top level" means outside every parenthesis.
  */
object Spans {
  import Lexer._

  private def tokens(s: String): Vector[Token] = Lexer.tokenize(s).init

  /** Paren depth of each token; a paren sits at its group's outer depth. */
  private def depths(ts: Vector[Token]): Array[Int] = {
    var d = 0
    ts.map {
      case Op("(", _) => d += 1; d - 1
      case Op(")", _) => d -= 1; d
      case _          => d
    }.toArray
  }

  private def cut(s: String, ts: Vector[Token], from: Int, until: Int): String =
    if (from >= until) "" else s.substring(ts(from).pos, ts(until - 1).end)

  /** An unquoted identifier spelling `word` (any case) — the keyword
    * test: `"on"` is a column name, never the keyword ON. */
  private def bare(s: String, t: Token, word: String): Boolean = t match {
    case Ident(v, p) => s.charAt(p) != '"' && v.equalsIgnoreCase(word)
    case _ => false
  }

  private def spells(s: String, t: Token, word: String): Boolean = t match {
    case Op(v, _) => v == word
    case _        => bare(s, t, word)
  }

  /** A statement's text as the statement layer matches it: its first
    * to last token, minus one final `;`, each comment replaced by a
    * space — so head regexes and the helpers below see no comments. */
  def statement(s: String): String = {
    val ts0 = tokens(s)
    val ts = if (ts0.nonEmpty && spells(s, ts0.last, ";")) ts0.init else ts0
    ts.indices.map { i =>
      val gap = if (i == 0) "" else s.substring(ts(i - 1).end, ts(i).pos)
      (if (gap.forall(_.isWhitespace)) gap else " ") +
        s.substring(ts(i).pos, ts(i).end)
    }.mkString
  }

  /** (token index of the first word, index after the last) of each
    * top-level run of tokens spelling `words` (keywords or operators). */
  private def find(s: String, ts: Vector[Token],
                   words: Seq[String]): Seq[(Int, Int)] = {
    val d = depths(ts)
    ts.indices.filter { i =>
      d(i) == 0 && i + words.length <= ts.length &&
        words.indices.forall(k => spells(s, ts(i + k), words(k)))
    }.map(i => (i, i + words.length))
  }

  /** Pieces of `s` between top-level occurrences of `words`, which are
    * dropped: `split(s, ",")`, `split(s, "and")`, `split(s, ";")`. */
  def split(s: String, words: String*): Seq[String] = {
    val ts = tokens(s)
    val at = find(s, ts, words)
    ((0, 0) +: at).zip(at.map(_._1) :+ ts.length).map { case ((_, from), until) =>
      cut(s, ts, from, until)
    }
  }

  /** (text before, text after) each top-level occurrence of `words`. */
  def around(s: String, words: String*): Seq[(String, String)] = {
    val ts = tokens(s)
    find(s, ts, words).map { case (a, b) =>
      (cut(s, ts, 0, a), cut(s, ts, b, ts.length))
    }
  }

  /** (lhs, rhs) of the one top-level `=` of `s`; None when there is
    * not exactly one. */
  def equality(s: String): Option[(String, String)] = around(s, "=") match {
    case Seq(p) => Some(p)
    case _      => None
  }

  /** (text before, inside, text after) the first parenthesized group
    * of `s`; the outer texts are raw, the inside is trimmed. */
  def parenGroup(s: String): (String, String, String) = {
    val ts = tokens(s)
    val d = depths(ts)
    val open = ts.indexWhere(spells(s, _, "("))
    val close = if (open < 0) -1 else ts.indices.indexWhere(j =>
      j > open && d(j) == d(open) && spells(s, ts(j), ")"))
    if (close < 0) throw LexException(s"unbalanced parentheses in: $s")
    (s.substring(0, ts(open).pos), cut(s, ts, open + 1, close),
      s.substring(ts(close).end))
  }

  /** Strips outer parens while one group spans all of `s`: `((a = b))`
    * → `a = b`; `(a) and (b)` stays. */
  def stripParens(s: String): String = {
    val ts = tokens(s)
    val d = depths(ts)
    val whole = ts.length >= 2 && spells(s, ts(0), "(") &&
      spells(s, ts.last, ")") && !d.indices.exists(j =>
        j > 0 && j < ts.length - 1 && d(j) == 0)
    if (whole) stripParens(cut(s, ts, 1, ts.length - 1)) else cut(s, ts, 0, ts.length)
  }

  /** A column reference `c` or `q.c` (either part may be quoted) as
    * (qualifier, column); None for any other text. */
  def ref(s: String): Option[(Option[String], String)] = tokens(s) match {
    case Vector(Ident(c, _))                          => Some((None, c))
    case Vector(Ident(q, _), Op(".", _), Ident(c, _)) => Some((Some(q), c))
    case _                                            => None
  }

  /** `s` rebuilt token by token: at token `i`, `f(tokens, i)` may
    * return (tokens consumed, replacement text); all other text —
    * whitespace and comments included — copies through unchanged. */
  def rewrite(s: String)(f: (Vector[Token], Int) => Option[(Int, String)]): String = {
    val ts = tokens(s)
    val out = new StringBuilder
    var at = 0
    var i = 0
    while (i < ts.length) f(ts, i) match {
      case Some((n, rep)) =>
        out ++= s.substring(at, ts(i).pos) ++= rep
        at = ts(i + n - 1).end; i += n
      case None => i += 1
    }
    (out ++= s.substring(at)).toString
  }

  /** Walks the column references of an expression text: `f(Some(q), c)`
    * for `q.c`, `f(None, c)` for a bare identifier that is neither a
    * function name nor a field after a dot. A Some result replaces the
    * reference's text; None keeps it. */
  def mapRefs(s: String)(f: (Option[String], String) => Option[String]): String =
    rewrite(s) { (ts, i) =>
      def op(j: Int, v: String) = ts.lift(j).exists(spells(s, _, v))
      if (op(i - 1, ".")) None
      else (ts(i), ts.lift(i + 2)) match {
        case (Ident(q, _), Some(Ident(c, _))) if op(i + 1, ".") =>
          f(Some(q), c).map(3 -> _)
        case (Ident(c, _), _) if !op(i + 1, "(") && !op(i + 1, ".") =>
          f(None, c).map(1 -> _)
        case _ => None
      }
    }
}
