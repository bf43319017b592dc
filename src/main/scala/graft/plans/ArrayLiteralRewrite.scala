package graft.plans

import graft.plans.PgLexer._

/** PG's `ARRAY[a, b, …]` constructor syntax → Spark's `array(a, b, …)`.
  * The reference's compat suite uses it directly
  * (`test_postgres_compat_sql.py`: `unnest(ARRAY[1, 2])`,
  * `= any(array[1,2,3])`, `SELECT ARRAY[id] …`), and the deparser
  * ships ArrayExpr through to the engine. Token-level (strings,
  * comments, quoted identifiers respected); nested constructors
  * rewrite through recursion; `ARRAY<INT>` type syntax (no bracket)
  * and identifiers merely containing "array" never match.
  */
object ArrayLiteralRewrite {

  private[graft] def step(sql: String, ts: Vector[Tok]): Option[String] = {
    var i = 0
    while (i < ts.length - 1) {
      if (ts(i).is('w', "ARRAY") && ts(i + 1).is('o', "[")) {
        val close = matchParen(ts, i + 1)
        if (close > 0) {
          val inner = sql.substring(ts(i + 1).end, ts(close).start)
          return Some(sql.substring(0, ts(i).start) + "array(" + inner +
            ")" + sql.substring(ts(close).end))
        }
      }
      i += 1
    }
    None
  }

  def rewrite(sql: String): String = fixpoint(sql)(step)
}
