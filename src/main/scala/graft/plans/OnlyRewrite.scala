package graft.plans

import graft.plans.PgLexer._

/** PG `FROM ONLY parent` / `JOIN ONLY parent` (inheritance: read the
  * parent's OWN rows, no descendants — PG docs ddl-inherit). The
  * engine registers `__only_<name>` views for every family parent;
  * this pass maps the syntax onto them. DML `ONLY` (DELETE FROM ONLY /
  * UPDATE ONLY) is handled separately in LakeEngine.sql, where it
  * suppresses family propagation.
  */
object OnlyRewrite {

  private[graft] def step(sql: String, ts: Vector[Tok]): Option[String] = {
    var i = 0
    while (i + 2 < ts.length) {
      val a = ts(i); val b = ts(i + 1); val c = ts(i + 2)
      if ((a.is('w', "FROM") || a.is('w', "JOIN")) && b.is('w', "ONLY") &&
        c.kind == 'w') {
        val name = sql.substring(c.start, c.end)
        return Some(sql.substring(0, b.start) +
          s"__only_$name" + sql.substring(c.end))
      }
      i += 1
    }
    None
  }

  def rewrite(sql: String): String = fixpoint(sql)(step)
}
