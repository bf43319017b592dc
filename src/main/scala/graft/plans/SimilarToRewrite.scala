package graft.plans

import graft.plans.PgLexer._

/** `x [NOT] SIMILAR TO pattern [ESCAPE 'c']` — PG surface the
  * reference accepts through its compat suite
  * (`test_postgres_compat_sql.py:63`); Spark has no SIMILAR TO.
  * Rewritten to `x RLIKE similar_to_regex(pattern[, 'c'])` (negated
  * through NOT), where [[graft.functions.SimilarTo]] performs the
  * standard's pattern translation and anchors the match. Literal
  * patterns fold to a constant regex at plan time.
  *
  * Over [[PgLexer]]'s tokens: the left operand is the longest
  * balanced run back to an expression boundary
  * ([[PgLexer.operandStart]]); the pattern operand is the forward run
  * to the next boundary ([[PgLexer.operandEnd]], which here also
  * stops at ESCAPE and SIMILAR), with an optional trailing
  * `ESCAPE '<char>'`.
  */
object SimilarToRewrite {

  private val PatternStops = Set("ESCAPE", "SIMILAR")

  private[graft] def step(sql: String, ts: Vector[Tok]): Option[String] = {
    var i = 0
    while (i < ts.length - 2) {
      if (ts(i).is('w', "SIMILAR") && ts(i + 1).is('w', "TO")) {
        val negated = i > 0 && ts(i - 1).is('w', "NOT")
        val lhsEndTok = if (negated) i - 1 else i
        val lhsTok = operandStart(ts, lhsEndTok)
        val patEnd = operandEnd(ts, i + 2, PatternStops)
        if (lhsTok >= 0 && patEnd >= i + 2) {
          val lhs = sql.substring(ts(lhsTok).start, ts(lhsEndTok).start).trim
          val pat = sql.substring(ts(i + 2).start, ts(patEnd).end)
          // optional ESCAPE '<c>' suffix
          var end = patEnd
          var escArg = ""
          if (patEnd + 2 < ts.length && ts(patEnd + 1).kind == 'w' &&
            ts(patEnd + 1).up == "ESCAPE" && ts(patEnd + 2).kind == 's') {
            escArg = ", " +
              sql.substring(ts(patEnd + 2).start, ts(patEnd + 2).end)
            end = patEnd + 2
          }
          val not = if (negated) "NOT " else ""
          val rep =
            s"($not(($lhs) RLIKE similar_to_regex(($pat)$escArg)))"
          return Some(sql.substring(0, ts(lhsTok).start) + rep +
            sql.substring(ts(end).end))
        }
      }
      i += 1
    }
    None
  }

  def rewrite(sql: String): String = fixpoint(sql)(step)
}
