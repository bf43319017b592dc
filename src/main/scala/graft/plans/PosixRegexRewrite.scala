package graft.plans

import graft.plans.PgLexer._

/** PG's POSIX regex operators and regex SUBSTRING — the reference's
  * text-search suite uses them directly
  * (`pg_lake_table/tests/pytests/test_regex_text_search.py`:
  * `content ~ '\d+'`, `SUBSTRING(content FROM '\d+')`):
  *
  *  - `a ~ p` → `(a) RLIKE (p)` (substring match, like PG);
  *    `~*` case-insensitive via an embedded `(?i)` flag; `!~`/`!~*`
  *    negate through NOT (UNKNOWN preserved);
  *  - `SUBSTRING(x FROM 'pat')` → a CASE over RLIKE +
  *    `regexp_extract`, returning NULL on no match (PG) where
  *    Spark's regexp_extract alone returns '' — and extracting the
  *    FIRST PARENTHESIZED GROUP when the literal pattern has one,
  *    the whole match otherwise (PG's rule).
  *
  * Patterns are POSIX AREs in PG and Java regexes here — identical
  * for the common feature set (classes, quantifiers, alternation,
  * anchors, \d\w\s escapes).
  *
  * Over [[PgLexer]]'s tokens: the operands of `~` are the balanced
  * runs [[PgLexer.operandStart]] and [[PgLexer.operandEnd]] bound.
  */
object PosixRegexRewrite {

  /** PG: the first parenthesized subexpression is returned when the
    * pattern has one; group 0 (whole match) otherwise. Decide from
    * the literal: an unescaped '(' not starting a (?…) group.
    */
  private[graft] def groupIndex(pattern: String): Int = {
    var i = 0
    var inClass = false
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == '\\') i += 2
      else if (inClass) {
        if (c == ']') inClass = false
        i += 1
      } else if (c == '[') { inClass = true; i += 1 }
      else if (c == '(') {
        // a '(' inside [...] is a literal class member, handled above
        if (i + 1 < pattern.length && pattern.charAt(i + 1) == '?') i += 1
        else return 1
      } else i += 1
    }
    0
  }

  private def rewriteRegexOp(sql: String, ts: Vector[Tok]): Option[String] = {
    var i = 0
    while (i < ts.length) {
      val t = ts(i)
      if (t.kind == 'o' && t.up == "~") {
        // assemble the operator: optional preceding '!', optional
        // following '*' (must be ADJACENT — `a ! ~ b` is not SQL, and
        // `x ~ y * 2` must keep the '*' as multiplication only if
        // separated; PG's lexer treats !~* as one token, so adjacency
        // is the faithful rule)
        val neg = i > 0 && ts(i - 1).kind == 'o' && ts(i - 1).up == "!" &&
          ts(i - 1).end == t.start
        val ci = i + 1 < ts.length && ts(i + 1).kind == 'o' &&
          ts(i + 1).up == "*" && ts(i + 1).start == t.end
        val opStartTok = if (neg) i - 1 else i
        val rhsFrom = if (ci) i + 2 else i + 1
        // only INFIX '~' is the regex operator — a '~' after an
        // operator/keyword/start of expression is Spark's unary
        // bitwise NOT (`a + ~b`, `SELECT ~5`) and must pass through
        val infix = opStartTok > 0 && {
          val p = ts(opStartTok - 1)
          p.kind == 'n' || p.kind == 's' || p.kind == 'q' ||
            (p.kind == 'w' && !Boundary.contains(p.up)) ||
            (p.kind == 'o' && (p.up == ")" || p.up == "]"))
        }
        val lhsTok = if (infix) operandStart(ts, opStartTok) else -1
        val rhsEnd = operandEnd(ts, rhsFrom)
        if (infix && lhsTok >= 0 && rhsEnd >= rhsFrom) {
          val lhs = sql.substring(ts(lhsTok).start, ts(opStartTok).start).trim
          val rhs = sql.substring(ts(rhsFrom).start, ts(rhsEnd).end)
          val pat =
            if (ci) s"concat('(?is)', ($rhs))"
            else s"concat('(?s)', ($rhs))" // PG: '.' crosses newlines
          val m = s"(($lhs) RLIKE $pat)"
          val rep = if (neg) s"(NOT $m)" else m
          return Some(sql.substring(0, ts(lhsTok).start) + rep +
            sql.substring(ts(rhsEnd).end))
        }
      }
      i += 1
    }
    None
  }

  private def rewriteSubstring(sql: String, ts: Vector[Tok]): Option[String] = {
    var i = 0
    while (i < ts.length - 4) {
      val close = if (ts(i).is('w', "SUBSTRING") && ts(i + 1).is('o', "("))
        matchParen(ts, i + 1) else -1
      // `SUBSTRING(x FROM '<pattern>')`: the first depth-0 FROM in the
      // parens, followed by nothing but a string literal
      val parts = if (close < 0) None else
        topKeyword(sql.substring(ts(i + 1).end, ts(close).start), "FROM")
      parts.map { case (x, p) => (x.trim, p, tokenize(p)) } match {
        case Some((inner, p, Vector(l))) if l.kind == 's' =>
          val lit = p.substring(l.start, l.end)
          val g = groupIndex(lit.substring(1, lit.length - 1)
            .replace("''", "'"))
          val pat = s"concat('(?s)', $lit)"
          val rep = s"(CASE WHEN ($inner) RLIKE $pat THEN " +
            s"regexp_extract(($inner), $pat, $g) ELSE NULL END)"
          return Some(sql.substring(0, ts(i).start) + rep +
            sql.substring(ts(close).end))
        case _ => ()
      }
      i += 1
    }
    None
  }

  private[graft] def step(sql: String, ts: Vector[Tok]): Option[String] =
    rewriteRegexOp(sql, ts).orElse(rewriteSubstring(sql, ts))

  def rewrite(sql: String): String = fixpoint(sql)(step)
}
