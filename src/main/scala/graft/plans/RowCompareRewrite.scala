package graft.plans

import graft.plans.PgLexer._

/** PG/SQL-standard row-wise comparison — `ROW(a, b) op ROW(c, d)`
  * (reference test_select_expressions.py uses them in pushdown-shaped
  * selects; PG docs §9.24.5). Spark's struct comparison demands
  * identical field names AND types, so `row(a,b) > row(1,2.0)` fails
  * analysis; the standard instead DEFINES row comparison as the
  * lexicographic expansion, which is what this pass emits:
  *
  *   (a1,a2) <  (b1,b2)  ≡  a1 < b1 OR (a1 = b1 AND a2 < b2)
  *   (a1,a2) <= (b1,b2)  ≡  a1 < b1 OR (a1 = b1 AND a2 <= b2)
  *   (a1,a2) =  (b1,b2)  ≡  a1 = b1 AND a2 = b2
  *   (a1,a2) <> (b1,b2)  ≡  a1 <> b1 OR a2 <> b2
  *
  * (>, >= mirror; three-valued logic falls out of the expansion,
  * exactly the standard's definition.) Only fires when BOTH operands
  * are literal ROW(...) constructors around a comparison operator —
  * `row(...)` as a plain struct constructor stays for the `row`
  * function (CreateStruct). Arity mismatch refuses loudly like PG.
  */
object RowCompareRewrite {

  private val ops = Set("=", "<>", "!=", "<", "<=", ">", ">=")

  /** Token index just past the ROW(...) group starting at `i` (which
    * must be ROW), plus the top-level-comma arg spans as source text;
    * None when ts(i) is not a ROW constructor.
    */
  private def rowGroup(sql: String, ts: Vector[Tok], i: Int)
      : Option[(Int, Seq[String])] =
    if (!ts(i).is('w', "ROW") || i + 1 >= ts.length || !ts(i + 1).is('o', "("))
      None
    else Some(matchParen(ts, i + 1)).filter(_ > 0).map { close =>
      (close + 1, splitTop(sql.substring(ts(i + 1).end, ts(close).start), ",")
        .map(_.trim))
    }

  private def expand(op: String, as: Seq[String], bs: Seq[String])
      : String = {
    require(as.size == bs.size,
      s"unequal number of entries in row expressions ($op)")
    op match {
      case "=" =>
        as.zip(bs).map { case (a, b) => s"($a) = ($b)" }.mkString(" AND ")
      case "<>" | "!=" =>
        as.zip(bs).map { case (a, b) => s"($a) <> ($b)" }.mkString(" OR ")
      case _ =>
        val strict = op.stripSuffix("=") match {
          case "" => "=" // unreachable: '=' handled above
          case s => s
        }
        def lex(i: Int): String = {
          val (a, b) = (as(i), bs(i))
          if (i == as.size - 1) s"($a) $op ($b)"
          else s"($a) $strict ($b) OR (($a) = ($b) AND (${lex(i + 1)}))"
        }
        lex(0)
    }
  }

  private[graft] def step(sql: String, ts: Vector[Tok]): Option[String] = {
    var i = 0
    while (i < ts.length) {
      rowGroup(sql, ts, i) match {
        case Some((afterL, lhs)) if afterL + 1 < ts.length &&
            ts(afterL).kind == 'o' && ops.contains(ts(afterL).up) =>
          // two-char ops tokenize as one token; a trailing '>' after
          // '<' etc. cannot occur here
          rowGroup(sql, ts, afterL + 1) match {
            case Some((afterR, rhs)) =>
              val repl = "(" + expand(ts(afterL).up, lhs, rhs) + ")"
              return Some(sql.substring(0, ts(i).start) + repl +
                sql.substring(ts(afterR - 1).end))
            case None => ()
          }
        case _ => ()
      }
      i += 1
    }
    None
  }

  def rewrite(sql: String): String = fixpoint(sql)(step)
}
