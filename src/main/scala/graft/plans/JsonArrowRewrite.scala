package graft.plans

import graft.plans.PgLexer._

/** PG json operators `->`, `->>`, `#>`, `#>>` → the engine's
  * `pg_json_field[_text]` / `pg_json_path[_text]` functions
  * (reference test_jsonb_pushdown.py uses the operators directly;
  * its pushdown deparses them onto the engine's json_extract family
  * the same way).
  *
  * Spark's lambda syntax also uses `->` (`transform(a, x -> x + 1)`),
  * so the rewrite only fires when the RIGHT operand is a bare string
  * or integer literal — the PG operator's only well-typed right-hand
  * shapes — and the LEFT neighbor ends an expression (identifier,
  * quoted name, literal, `)` or `]`). A lambda whose entire body is a
  * bare literal (`x -> 1`) would be shadowed: parenthesize the body
  * (`x -> (1)`) to force the lambda reading. No such lambda exists in
  * any shipped query, and PG text never contains lambdas.
  *
  * The left operand is the longest PRIMARY chain (qualified names,
  * call/subscript suffixes, chained arrow results after earlier
  * passes), matching PG's precedence where `->` binds tighter than
  * arithmetic.
  */
object JsonArrowRewrite {

  /** (opLen, fnName) for the arrow token run starting at ts(i). */
  private def arrowAt(ts: Vector[Tok], i: Int): Option[(Int, String)] = {
    def adj(a: Int, b: Int): Boolean =
      a + 1 < ts.length && b < ts.length && ts(a).end == ts(b).start
    val t = ts(i)
    if (t.kind != 'o') return None
    t.up match {
      case "-" if adj(i, i + 1) && ts(i + 1).up == ">" =>
        if (adj(i + 1, i + 2) && ts(i + 2).up == ">")
          Some((3, "pg_json_field_text"))
        else Some((2, "pg_json_field"))
      case "#" if adj(i, i + 1) && ts(i + 1).up == ">" =>
        if (adj(i + 1, i + 2) && ts(i + 2).up == ">")
          Some((3, "pg_json_path_text"))
        else Some((2, "pg_json_path"))
      case _ => None
    }
  }

  /** Start token index of the primary chain ending at `endIdx`
    * (inclusive); -1 when the left neighbor cannot end an expression.
    */
  private def primaryStart(ts: Vector[Tok], endIdx: Int): Int = {
    var j = endIdx
    while (j >= 0) {
      val t = ts(j)
      t.kind match {
        case 'o' if t.up == ")" || t.up == "]" =>
          // match backward to the opener
          var depth = 0
          var k = j
          var opener = -1
          while (k >= 0 && opener < 0) {
            val u = ts(k)
            if (u.kind == 'o' && (u.up == ")" || u.up == "]")) depth += 1
            else if (u.kind == 'o' && (u.up == "(" || u.up == "[")) {
              depth -= 1
              if (depth == 0) opener = k
            }
            k -= 1
          }
          if (opener < 0) return j
          // function-call / subscript suffix: include the name before —
          // but a KEYWORD before the opener (SELECT (x->'a') ->> 'b',
          // WHERE/AND/THEN/...) is clause syntax, not a call name;
          // swallowing it produced pg_json_field_text(SELECT (...), ...)
          if (opener > 0 && ((ts(opener - 1).kind == 'w' &&
              !Boundary.contains(ts(opener - 1).up)) ||
            ts(opener - 1).kind == 'q')) j = opener - 1
          else return opener
        case 'w' | 'q' =>
          // qualified name t.a / schema.t.a
          if (j >= 2 && ts(j - 1).kind == 'o' && ts(j - 1).up == "." &&
            (ts(j - 2).kind == 'w' || ts(j - 2).kind == 'q')) j -= 2
          else return j
        case 's' | 'n' => return j
        case _ => return -1
      }
    }
    0
  }

  private[graft] def step(sql: String, ts: Vector[Tok]): Option[String] = {
    var i = 0
    while (i < ts.length) {
      arrowAt(ts, i) match {
        case Some((opLen, fn)) if i > 0 && i + opLen < ts.length =>
          val rhs = ts(i + opLen)
          val rhsOk = rhs.kind == 's' ||
            (rhs.kind == 'n' && rhs.end - rhs.start < 10 &&
              sql.substring(rhs.start, rhs.end).forall(_.isDigit))
          if (rhsOk) {
            val start = primaryStart(ts, i - 1)
            if (start >= 0) {
              val lhsText = sql.substring(ts(start).start, ts(i - 1).end)
              val rhsText = sql.substring(rhs.start, rhs.end)
              return Some(sql.substring(0, ts(start).start) +
                s"$fn($lhsText, $rhsText)" + sql.substring(rhs.end))
            }
          }
          i += 1
        case _ => i += 1
      }
    }
    None
  }

  def rewrite(sql: String): String = fixpoint(sql)(step)
}
