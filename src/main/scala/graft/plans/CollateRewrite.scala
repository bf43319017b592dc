package graft.plans

import graft.plans.PgLexer._

/** PG `COLLATE` clauses (reference test_collate.py): the engine's
  * string comparison is byte order — exactly PG's "C"/"POSIX"
  * collations — and the reference ships queries by STRIPPING those
  * collate decorations before pushdown
  * (assert_remote_query_not_contains_collate throughout the test).
  * Spark's default UTF8_BINARY is the same byte order, so the
  * equivalent here is the same strip, token-level: `COLLATE "C"`,
  * `COLLATE "POSIX"`, `COLLATE ucs_basic` (the SQL-standard alias for
  * the same order) and `COLLATE "default"` vanish; any OTHER collation
  * (locale-aware en_US etc.) refuses loudly rather than silently
  * sorting differently than PG would — the reference's engine can't
  * honor those either.
  */
object CollateRewrite {

  private val ByteOrder = Set("C", "POSIX", "UCS_BASIC", "DEFAULT")

  /** (original-case, uppercase) collation name after COLLATE. */
  private def nameOf(sql: String, t: Tok): Option[(String, String)] =
    t.kind match {
      case 'w' =>
        val raw = sql.substring(t.start, t.end)
        Some((raw, t.up))
      case 'q' => // quoted identifier ("..." or, post-rewrite, `...`)
        val raw = sql.substring(t.start, t.end)
        if (raw.length >= 2 && (raw.head == '"' || raw.head == '`') &&
          raw.last == raw.head) {
          val name = raw.substring(1, raw.length - 1)
          Some((name, name.toUpperCase))
        } else None
      case _ => None
    }

  private[graft] def step(sql: String, ts: Vector[Tok]): Option[String] = {
    var i = 0
    while (i + 1 < ts.length) {
      val t = ts(i)
      if (t.is('w', "COLLATE")) {
        // PG deparsers qualify: COLLATE pg_catalog."C" — skip the
        // schema qualifier before reading the collation name
        val nameIdx = if (ts(i + 1).is('w', "PG_CATALOG") &&
          i + 3 < ts.length && ts(i + 2).is('o', ".")) i + 3 else i + 1
        nameOf(sql, ts(nameIdx)) match {
          case Some((_, up)) if ByteOrder.contains(up) =>
            return Some(sql.substring(0, t.start) +
              sql.substring(ts(nameIdx).end))
          case Some((n, _)) => throw new IllegalArgumentException(
            s"""collation "$n" is not supported: the engine collation is """ +
              "byte order (PG C/POSIX); locale-aware collations would sort " +
              "differently than the storage engine compares")
          case None => () // COLLATE used as an identifier elsewhere
        }
      }
      i += 1
    }
    None
  }

  def rewrite(sql: String): String = fixpoint(sql)(step)
}
