package graft.plans

import graft.plans.PgLexer._

/** Quantified comparison subqueries — `x op ANY (SELECT …)`,
  * `x op ALL (SELECT …)`, `SOME` as the ANY synonym — are core PG
  * surface the reference's own pushdown tests exercise
  * (`pg_lake_table/tests/pytests/test_cte_subquery_pushdown.py:41`
  * correlated `<= ALL`, `test_set_operation_pushdown.py:60`
  * `= ANY`), but Spark's parser rejects the syntax outright. This
  * shim rewrites the quantified comparison into its standard-SQL
  * expansion — the same three-valued CASE/EXISTS form
  * [[NullAwareIn]] uses for IN — before the text reaches
  * `spark.sql`:
  *
  * {{{
  *   x op ANY (q)  ==>  CASE WHEN EXISTS (q' WHERE x op v)           THEN TRUE
  *                           WHEN EXISTS (q' WHERE (x op v) IS NULL) THEN NULL
  *                           ELSE FALSE END
  *   x op ALL (q)  ==>  CASE WHEN EXISTS (q' WHERE NOT (x op v))     THEN FALSE
  *                           WHEN EXISTS (q' WHERE (x op v) IS NULL) THEN NULL
  *                           ELSE TRUE END
  * }}}
  *
  * where `q'` is `q` as a column-aliased derived table. The
  * expansion preserves UNKNOWN exactly (NULL probe, NULL members,
  * empty sets) and keeps correlation intact — outer references
  * inside `q` or `x` resolve through the EXISTS like any correlated
  * subquery, which Spark decorrelates into semi joins. Order
  * comparisons (`< <= > >=`) take a better physical shape: the
  * decisive branch collapses onto a min/max scalar-aggregate
  * subquery (`x < ANY (q)` ⇔ `x < (SELECT max(v) FROM q)`), one
  * aggregate instead of a non-equi existence join, and the UNKNOWN
  * branch decomposes into probe-NULL × set-nonempty plus
  * NULL-member — no per-row probe coupling anywhere.
  *
  * PG's other quantified form, `x op ANY/ALL (array-expr)` — shipped
  * verbatim by the reference's deparser (ScalarArrayOpExpr,
  * `pg_lake_table/src/fdw/deparse.c:3131`) — maps onto Spark's
  * three-valued higher-order functions: `exists(arr, e -> x op e)`
  * for ANY, `forall` for ALL.
  *
  * Token-level, not regex: over [[PgLexer]]'s tokens (string
  * literals, quoted identifiers, comments, nesting) the step finds
  * the pattern `<comparison-op> ANY|ALL|SOME (`, takes the left
  * operand as the longest balanced token run back to an expression
  * boundary (AND/OR/NOT/clause keyword/comma at depth 0), and splices
  * the expansion in place. Texts without the pattern pass through
  * byte-identical; `UNION ALL` and `count(ALL x)` never match (no
  * comparison operator). Operand shapes the scan cannot bound (a
  * bare `CASE … END` immediately left of the operator) fail loudly
  * in Spark's parser rather than silently mis-associating.
  */
object QuantifiedSubqueries {

  private val CompareOps = Set("=", "<>", "!=", "<", "<=", ">", ">=")
  private val Quantifiers = Set("ANY", "ALL", "SOME")

  private def freshAlias(sql: String): String = {
    var i = 0
    while (sql.contains(s"__qv$i")) i += 1
    s"__qv$i"
  }

  private[graft] def step(sql: String, ts: Vector[Tok]): Option[String] = {
    var i = 1
    while (i < ts.length - 2) {
      val t = ts(i)
      if (t.kind == 'w' && Quantifiers.contains(t.up) &&
        ts(i - 1).kind == 'o' && CompareOps.contains(ts(i - 1).up) &&
        ts(i + 1).is('o', "(")) {
        // subquery vs array form: first word token inside the parens
        // (possibly through further parens) decides
        var k = i + 2
        while (k < ts.length && ts(k).is('o', "(")) k += 1
        val isSubquery = k < ts.length && ts(k).kind == 'w' &&
          (ts(k).up == "SELECT" || ts(k).up == "WITH" ||
            ts(k).up == "VALUES" || ts(k).up == "TABLE")
        val close = matchParen(ts, i + 1)
        val lhsTok = operandStart(ts, i - 1)
        if (close >= 0 && lhsTok >= 0) {
          val lhs = sql.substring(ts(lhsTok).start, ts(i - 1).start).trim
          val op = if (ts(i - 1).up == "!=") "<>" else ts(i - 1).up
          val sub = sql.substring(ts(i + 1).start, ts(close).end)
          val a = freshAlias(sql)
          def replaced(rep: String) = Some(sql.substring(0, ts(lhsTok).start) +
            rep + sql.substring(ts(close).end))
          if (!isSubquery) {
            // PG's array form `x op ANY/ALL (array-expr)` — the
            // reference deparses ScalarArrayOpExpr verbatim
            // (pg_lake_table/src/fdw/deparse.c:3131) and DuckDB executes
            // it natively; Spark's parser rejects it, so map onto the
            // three-valued higher-order functions: exists() for ANY
            // (true if any comparison is TRUE, NULL if none true but
            // some UNKNOWN), forall() for ALL. PG nuance preserved:
            // `x = ANY(NULL::int[])` is NULL here and in PG (DuckDB
            // returns FALSE — a reference-engine inconsistency; the PG
            // side of the reference is the semantic contract).
            val hof = if (t.up == "ALL") "forall" else "exists"
            return replaced(s"$hof($sub, ${a}_e -> ($lhs) $op ${a}_e)")
          }
          val v = s"${a}_v"
          def exists(pred: String) =
            s"EXISTS (SELECT 1 FROM $sub AS $a($v) WHERE $pred)"
          def aggCmp(cmpOp: String, agg: String) =
            s"($lhs) $cmpOp (SELECT $agg($v) FROM $sub AS $a($v))"
          // "some comparison is UNKNOWN": NULL probe against a
          // nonempty set, or a NULL member — decomposed so neither
          // EXISTS couples to the probe (no theta join at scale)
          val unknown =
            s"((($lhs) IS NULL AND EXISTS (SELECT 1 FROM $sub AS $a)) " +
              s"OR ${exists(s"$v IS NULL")})"
          // decisive branch: for order comparisons the existential
          // collapses onto the set's min/max (NULL-skipping
          // aggregates see exactly the non-NULL members, and a NULL
          // probe or empty set makes the comparison UNKNOWN so the
          // branch falls through) — one scalar-aggregate subquery
          // instead of a non-equi join; equality stays an equi
          // EXISTS (hash semi shape); the rare <> ANY / = ALL keep
          // the general inequality EXISTS
          val rep =
            if (t.up == "ALL") {
              val falseCond = op match {
                case "<" => aggCmp(">=", "min")
                case "<=" => aggCmp(">", "min")
                case ">" => aggCmp("<=", "max")
                case ">=" => aggCmp("<", "max")
                case "=" => exists(s"($lhs) <> $v")
                case "<>" => exists(s"($lhs) = $v")
              }
              s"(CASE WHEN $falseCond THEN FALSE " +
                s"WHEN $unknown THEN CAST(NULL AS BOOLEAN) " +
                "ELSE TRUE END)"
            } else {
              val trueCond = op match {
                case "<" => aggCmp("<", "max")
                case "<=" => aggCmp("<=", "max")
                case ">" => aggCmp(">", "min")
                case ">=" => aggCmp(">=", "min")
                case "=" => exists(s"($lhs) = $v")
                case "<>" => exists(s"($lhs) <> $v")
              }
              s"(CASE WHEN $trueCond THEN TRUE " +
                s"WHEN $unknown THEN CAST(NULL AS BOOLEAN) " +
                "ELSE FALSE END)"
            }
          return replaced(rep)
        }
      }
      i += 1
    }
    None
  }

  /** Expand every quantified comparison subquery in `sql`. */
  def rewrite(sql: String): String = fixpoint(sql)(step)
}
