package graft.plans

import graft.plans.PgLexer._

/** PG cast-syntax compatibility: rewrite `expr::pgtype` type names
  * onto Spark's, token-level (the reference's own type tests cast this
  * way everywhere — test_int4.py, test_bpchar.py, test_numeric.py,
  * test_numeric_cast_operators.py deparse `x::"int4"` et al. to
  * DuckDB).
  *
  * Only the TYPE NAME is rewritten — Spark already parses the `::`
  * cast operator itself (and array steps like `::int4[]` compose via
  * the suffix). Name mapping follows SURVEY §1.2's storage
  * conventions:
  *
  *  - `int2/int4/int8` → smallint/int/bigint; `float4/float8` →
  *    float/double;
  *  - `text/varchar/bpchar/name/char(n)` → string (bpchar/char
  *    comparison therefore ignores NO trailing blanks — the exact
  *    semantics the reference ships, since its pushdown deparses
  *    bpchar to DuckDB VARCHAR, test_bpchar.py);
  *  - `numeric[(p,s)]` → decimal[(p,s)]; bare `numeric` → decimal(38,18)
  *    (Spark's default decimal is (10,0), useless for PG's unbounded
  *    numeric — 38,18 is the widest symmetric int128 shape);
  *  - `timestamp` → timestamp_ntz, `timestamptz` → timestamp (the
  *    repo-wide convention: PG timestamptz is the instant type);
  *  - `bool` → boolean, `bytea` → binary.
  *
  * Spark-native names map to themselves, so the rewrite is idempotent
  * and safe to run over any statement.
  */
object PgCastRewrite {

  private val simple = Map(
    "INT2" -> "smallint", "INT4" -> "int", "INT8" -> "bigint",
    "FLOAT4" -> "float", "FLOAT8" -> "double",
    "BOOL" -> "boolean", "BYTEA" -> "binary",
    "TEXT" -> "string", "BPCHAR" -> "string", "NAME" -> "string",
    // timestamptz must land on the name that does NOT re-trigger the
    // TIMESTAMP mapping on the next pass — Spark's explicit
    // timestamp_ltz is the same type as timestamp and a fixed point
    "TIMESTAMPTZ" -> "timestamp_ltz",
    "TIMESTAMP" -> "timestamp_ntz",
    // json/jsonb are textual in this engine (SURVEY §1.2); the cast
    // keeps the operand a string so the arrow operators apply
    "JSON" -> "string", "JSONB" -> "string")

  // parenthesized width forms: the width is kept for numeric/decimal,
  // dropped for the string family (Spark strings are unbounded)
  private val widthKeep = Set("NUMERIC", "DECIMAL")
  private val widthDrop = Set("VARCHAR", "CHAR", "BPCHAR", "CHARACTER")

  def rewrite(sql: String): String = fixpoint(sql)(step)

  private[graft] def step(sql: String, ts: Vector[Tok]): Option[String] = {
    var i = 0
    while (i + 2 < ts.length) {
      val a = ts(i); val b = ts(i + 1); val ty = ts(i + 2)
      // the type name may be bare or quoted — the reference deparses
      // `x::"int4"` with quotes (DoubleQuoteRewrite has already turned
      // PG double quotes into backticks by the time this pass runs)
      val quotedWord = ty.kind == 'q' && {
        val raw = sql.substring(ty.start, ty.end)
        raw.length > 2 && raw.head == '`' && raw.last == '`' &&
          raw.substring(1, raw.length - 1)
            .forall(ch => ch.isLetterOrDigit || ch == '_' || ch == ' ')
      }
      val isCast = a.is('o', ":") && b.is('o', ":") && a.end == b.start &&
        (ty.kind == 'w' || quotedWord)
      if (isCast) {
        // optional (p[,s]) width suffix
        val (width, afterTy): (Option[String], Int) =
          if (i + 3 < ts.length && ts(i + 3).kind == 'o' &&
            ts(i + 3).up == "(") {
            val close = matchParen(ts, i + 3)
            if (close > 0)
              (Some(sql.substring(ts(i + 3).start, ts(close).end)), close)
            else (None, i + 2)
          } else (None, i + 2)
        val name =
          if (ty.kind == 'w') ty.up
          else sql.substring(ty.start + 1, ty.end - 1).trim.toUpperCase
        val mapped: Option[String] =
          if (width.isEmpty && simple.contains(name)) Some(simple(name))
          else if (width.isEmpty && name == "NUMERIC") Some("decimal(38,18)")
          else if (width.isDefined && widthKeep.contains(name))
            Some("decimal" + width.get.replaceAll("\\s+", ""))
          else if (widthDrop.contains(name)) Some("string")
          else if (name == "VARCHAR" || name == "CHARACTER") Some("string")
          // quoted-but-unmapped plain word (e.g. ::"date"): Spark's
          // cast syntax wants a bare type name — unquote it
          else if (ty.kind == 'q' && !name.contains(' '))
            Some(name.toLowerCase)
          else None
        // PG array-type suffix: `::int4[]` → `::array<int>`
        val (isArray, afterAll) =
          if (afterTy + 2 < ts.length && ts(afterTy + 1).kind == 'o' &&
            ts(afterTy + 1).up == "[" && ts(afterTy + 2).kind == 'o' &&
            ts(afterTy + 2).up == "]")
            (true, afterTy + 2)
          else (false, afterTy)
        mapped match {
          case Some(m0) =>
            val m = if (isArray) s"array<$m0>" else m0
            if (m.toUpperCase !=
              sql.substring(ty.start, ts(afterAll).end).toUpperCase)
              return Some(sql.substring(0, ty.start) + m +
                sql.substring(ts(afterAll).end))
          case _ => ()
        }
      }
      i += 1
    }
    None
  }
}
