package graft.plans

import graft.plans.PgLexer._

/** PG double-quoted identifiers → Spark backticks (the reference's
  * SQL surface quotes identifiers routinely —
  * test_duckdb_reserved_keywords.py, and its deparser emits `"name"`
  * everywhere). In PG, `"..."` is ALWAYS an identifier (strings are
  * single-quoted), so the mapping is unconditional; `""` doubling
  * un-escapes to a literal quote, and any backtick inside the name
  * escapes as ``` `` ``` on the way out.
  *
  * A token map over [[PgLexer]]'s tokens: each `"…"` token becomes its
  * backtick form, so a `"` inside a string literal, a comment or an
  * already-backticked name is never touched.
  */
object DoubleQuoteRewrite {

  private def backticked(sql: String, t: Tok): String = {
    val closed = t.end - t.start >= 2 && sql.charAt(t.end - 1) == '"'
    val name = sql.substring(t.start + 1, if (closed) t.end - 1 else t.end)
    "`" + name.replace("\"\"", "\"").replace("`", "``") + "`"
  }

  private[graft] def step(sql: String, ts: Vector[Tok]): Option[String] = {
    val quoted = ts.filter(t => t.kind == 'q' && sql.charAt(t.start) == '"')
    if (quoted.isEmpty) None
    else Some(splice(sql, quoted.map(t => (t.start, t.end, backticked(sql, t)))))
  }

  def rewrite(sql: String): String = fixpoint(sql)(step)
}
