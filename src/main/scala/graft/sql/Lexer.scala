package graft.sql

/** Hand-written SQL tokenizer — the one place SQL's lexical rules
  * live: string literals with `''` escapes, double-quoted identifiers,
  * `--` line comments, numbers and operators.
  *
  * Token classes follow the reference grammar's terminals
  * (/root/reference/sql_to_ibis/grammar/sql.lark:132-163): CNAME
  * identifiers, double-quoted identifiers, single-quoted strings,
  * numbers, and the operator/punctuation set. `;` separates
  * statements and `?` / `$` are prepared-statement placeholders
  * ([[Spans.rewrite]]); the [[Parser]] rejects them inside a query.
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

/** Token-level text rewriting for EXECUTE, the one statement that
  * works on text: a prepared body keeps its token text, and `$n` / `?`
  * placeholders are replaced token by token ([[graft.Graft]]). */
object Spans {
  import Lexer._

  /** `s` rebuilt token by token: at token `i`, `f(tokens, i)` may
    * return (tokens consumed, replacement text); all other text —
    * whitespace and comments included — copies through unchanged. */
  def rewrite(s: String)(f: (Vector[Token], Int) => Option[(Int, String)]): String = {
    val ts = Lexer.tokenize(s).init
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
}
