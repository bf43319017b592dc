package graft.plans

/** The one scanner of PG statement text. Every pass over a statement
  * works on its tokens: the dialect rewrites in [[graft.QueryDef.pgRewrite]]
  * (each a [[PgLexer.Step]] run to its fixpoint by [[PgLexer.chain]]),
  * the `$N` parameter splice, and `LakeEngine`'s clause splits (column
  * and SET lists, RETURNING, UPDATE's WHERE, a domain's DEFAULT and
  * CHECK). So a comma, keyword, paren or operator inside a string
  * literal, quoted identifier or comment is never syntax to any of them.
  *
  * Token kinds: `'s'` single-quoted literal (`''` and Spark's `\'`
  * escapes inside), `'q'` quoted identifier (`"…"` with `""`, or
  * backticks with a doubled backtick inside), `'w'` word (`up` holds
  * it upper-cased), `'n'` number, `'o'` operator or punctuation (`up`
  * holds its text; `<= >= <> != ||` are one token). Comments and
  * whitespace make no token. Dollar-quoted literals are not lexed:
  * Spark's parser rejects them, and no routed statement carries one.
  */
object PgLexer {

  final case class Tok(start: Int, end: Int, kind: Char, up: String) {
    def is(kind: Char, up: String): Boolean = this.kind == kind && this.up == up
  }

  /** One rewrite over a text and its tokens: `Some(next)` when it
    * changed the text, `None` at its fixpoint.
    */
  type Step = (String, Vector[Tok]) => Option[String]

  /** Expression boundaries for the operand scans (depth 0). */
  val Boundary = Set(
    "AND", "OR", "NOT", "WHERE", "WHEN", "THEN", "ELSE", "ON", "HAVING",
    "SELECT", "FROM", "CASE", "END", "IN", "IS", "LIKE", "ILIKE",
    "BETWEEN", "ANY", "ALL", "SOME", "EXISTS", "BY", "AS", "JOIN",
    "SET", "VALUES", "DISTINCT", "UNION", "INTERSECT", "EXCEPT",
    // DML tail clause: without this, the regex/SIMILAR TO forward
    // operand scans would swallow "RETURNING id" into the pattern
    // operand of e.g. DELETE ... WHERE msg ~ 'err' RETURNING id.
    "RETURNING")

  private val TwoCharOps = Set("<=", ">=", "<>", "!=", "||")

  def tokenize(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        val e = sql.indexOf("*/", i + 2)
        i = if (e < 0) n else e + 2
      } else if (c == '\'' || c == '"' || c == '`') {
        val s = i; i += 1
        var done = false
        while (i < n && !done) {
          val d = sql.charAt(i)
          // Spark's default parser treats backslash as an escape
          // inside string literals ('can\'t' is one literal) — skip
          // the escaped character so content never leaks into SQL
          if (c == '\'' && d == '\\' && i + 1 < n) i += 2
          else if (d == c)
            if (i + 1 < n && sql.charAt(i + 1) == c) i += 2
            else { done = true; i += 1 }
          else i += 1
        }
        out += Tok(s, i, if (c == '\'') 's' else 'q', "")
      } else if (c.isLetter || c == '_') {
        val s = i
        while (i < n && (sql.charAt(i).isLetterOrDigit ||
          sql.charAt(i) == '_' || sql.charAt(i) == '$')) i += 1
        out += Tok(s, i, 'w', sql.substring(s, i).toUpperCase)
      } else if (c.isDigit) {
        val s = i
        while (i < n && (sql.charAt(i).isLetterOrDigit ||
          sql.charAt(i) == '.')) i += 1
        out += Tok(s, i, 'n', "")
      } else {
        val two = if (i + 1 < n) sql.substring(i, i + 2) else ""
        if (TwoCharOps.contains(two)) {
          out += Tok(i, i + 2, 'o', two); i += 2
        } else { out += Tok(i, i + 1, 'o', c.toString); i += 1 }
      }
    }
    out.result()
  }

  /** Runs each step to its fixpoint, in order. The text is lexed once
    * up front and again only after a step changes it.
    */
  def chain(sql: String, steps: Step*): String = {
    var text = sql
    var ts = tokenize(sql)
    steps.foreach { step =>
      var next = step(text, ts)
      while (next.isDefined) {
        text = next.get
        ts = tokenize(text)
        next = step(text, ts)
      }
    }
    text
  }

  def fixpoint(sql: String)(step: Step): String = chain(sql, step)

  /** `sql` with each `(start, end, replacement)` span (in text order,
    * not overlapping) replaced.
    */
  def splice(sql: String, edits: Seq[(Int, Int, String)]): String = {
    val sb = new java.lang.StringBuilder
    var pos = 0
    edits.foreach { case (s, e, r) =>
      sb.append(sql, pos, s).append(r)
      pos = e
    }
    sb.append(sql, pos, sql.length).toString
  }

  /** Index of the token holding the matching ')' (or ']'), given the
    * index of its '(' (or '['); -1 when unbalanced.
    */
  def matchParen(ts: Vector[Tok], open: Int): Int = {
    val (opener, closer) = if (ts(open).up == "[") ("[", "]") else ("(", ")")
    var depth = 0
    var j = open
    while (j < ts.length) {
      val t = ts(j)
      if (t.is('o', opener)) depth += 1
      else if (t.is('o', closer)) {
        depth -= 1
        if (depth == 0) return j
      }
      j += 1
    }
    -1
  }

  private def stops(t: Tok, words: Set[String]): Boolean =
    (t.kind == 'w' && words.contains(t.up)) ||
      (t.kind == 'o' && (t.up == "," || t.up == ";"))

  /** Start token index of the left operand: longest balanced run
    * ending at `opIdx - 1`. Returns -1 when no operand can be bounded.
    */
  def operandStart(ts: Vector[Tok], opIdx: Int): Int = {
    var j = opIdx - 1
    var depth = 0
    var last = -1
    while (j >= 0) {
      val t = ts(j)
      if (t.is('o', ")")) depth += 1
      else if (t.is('o', "(")) {
        if (depth == 0) return last
        depth -= 1
      } else if (depth == 0 && stops(t, Boundary)) return last
      last = j
      j -= 1
    }
    last
  }

  private val ForwardStops = Boundary ++ Set("ORDER", "GROUP", "LIMIT")

  /** Last token index of the right operand starting at `from`: the run
    * to a depth-0 boundary (those of [[operandStart]], ORDER, GROUP,
    * LIMIT and the caller's `extra` words) or an unbalanced ')'; -1
    * when empty.
    */
  def operandEnd(ts: Vector[Tok], from: Int,
      extra: Set[String] = Set.empty): Int = {
    val words = if (extra.isEmpty) ForwardStops else ForwardStops ++ extra
    var j = from
    var depth = 0
    var last = -1
    while (j < ts.length) {
      val t = ts(j)
      if (t.is('o', "(")) depth += 1
      else if (t.is('o', ")")) {
        if (depth == 0) return last
        depth -= 1
      } else if (depth == 0 && stops(t, words)) return last
      last = j
      j += 1
    }
    last
  }

  /** Depth-0 tokens of `text` that satisfy `hit`, paren and bracket
    * depth counted over the whole text.
    */
  private def topLevel(text: String)(hit: Tok => Boolean): Vector[Tok] = {
    var depth = 0
    tokenize(text).filter { t =>
      if (t.kind == 'o' && (t.up == "(" || t.up == "[")) depth += 1
      else if (t.kind == 'o' && (t.up == ")" || t.up == "]")) depth -= 1
      depth == 0 && hit(t)
    }
  }

  /** `text` split at its depth-0 `sep` operator tokens (`a = f(x, y),
    * b = 'p, q'` on "," is two pieces); the pieces are not trimmed.
    */
  def splitTop(text: String, sep: String): Seq[String] = {
    val cuts = topLevel(text)(_.is('o', sep))
    val bounds = (0 +: cuts.map(_.end)).zip(cuts.map(_.start) :+ text.length)
    bounds.map { case (s, e) => text.substring(s, e) }
  }

  /** `text` before and after its first depth-0 keyword `kw` (upper
    * case), the keyword itself dropped; None when there is none.
    */
  def topKeyword(text: String, kw: String): Option[(String, String)] =
    topLevel(text)(_.is('w', kw)).headOption
      .map(t => (text.substring(0, t.start), text.substring(t.end)))
}
