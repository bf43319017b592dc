package graft.plans

/** PG positional parameters (`$1`, `$2`, …) for the PREPARE/EXECUTE
  * surface (reference test_prepared.py; the reference binds them over
  * the wire protocol — here EXECUTE's argument expressions are spliced
  * token-wise, which is PG-equivalent for literal arguments: PG
  * evaluates EXECUTE's arguments before binding).
  *
  * Substitution runs over [[PgLexer]]'s tokens: a `$N` inside a string
  * literal, comment or quoted identifier is content, not a parameter;
  * the same parameter may appear any number of times; parameters the
  * statement never references are allowed (PG allows unused
  * parameters too).
  */
object DollarParams {

  /** Highest `$N` referenced (0 when none). */
  def maxParam(sql: String): Int =
    refs(sql).map(_._3).foldLeft(0)(math.max)

  /** Splice `args` (SQL expression texts) into the `$N` slots,
    * parenthesized to preserve precedence.
    */
  def bind(sql: String, args: Seq[String]): String = {
    val rs = refs(sql)
    val need = rs.map(_._3).foldLeft(0)(math.max)
    require(args.length >= need,
      s"prepared statement wants $need parameter(s), got ${args.length}")
    PgLexer.splice(sql, rs.map { case (start, end, n) =>
      (start, end, s"(${args(n - 1).trim})")
    })
  }

  /** (start, end, n) of each `$N` reference, in text order. */
  private def refs(sql: String): Seq[(Int, Int, Int)] = {
    val ts = PgLexer.tokenize(sql)
    (1 until ts.length).collect { case i if ts(i - 1).is('o', "$") &&
        ts(i).kind == 'n' && ts(i - 1).end == ts(i).start &&
        sql.substring(ts(i).start, ts(i).end).forall(_.isDigit) =>
      (ts(i - 1).start, ts(i).end, sql.substring(ts(i).start, ts(i).end).toInt)
    }
  }
}
