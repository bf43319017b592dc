package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.BooleanType

/** Standard-SQL three-valued `[NOT] IN (subquery)` OUTSIDE filters —
  * a semantics gap in stock Spark that the reference engines (both
  * Postgres and DuckDB execute `pg_lake`'s queries with full 3VL) do
  * not share, caught by the `q_fn_fuzz_in` differential dimension:
  *
  * Spark plans a projected IN-subquery as an ExistenceJoin whose
  * condition is `(v = x) OR isnull(v = x)`, then projects the raw
  * exists flag (negated for NOT IN). The flag conflates UNKNOWN with
  * TRUE, so `1 NOT IN {NULL, 3}` evaluates to FALSE where the SQL
  * standard — and the oracle — says NULL. Inside a WHERE top-level
  * conjunct the conflation is unobservable (UNKNOWN and FALSE both
  * drop the row, and Spark's semi / null-aware-anti joins handle the
  * two polarities exactly), but anywhere the BOOLEAN VALUE escapes —
  * a projected column, an aggregate argument, `coalesce(x NOT IN s,
  * true)` under a filter — the missing NULL is user-visible.
  *
  * The rewrite expands an endangered IN (nullable probe values or
  * nullable subquery output) into the 3VL truth table, built from
  * constructs Spark decorrelates correctly:
  *
  * {{{
  *   v IN (SELECT x FROM q)
  *   ==> CASE WHEN EXISTS (q WHERE v = x)           THEN TRUE
  *            WHEN EXISTS (q WHERE (v = x) IS NULL) THEN NULL
  *            ELSE FALSE END
  * }}}
  *
  * (`NOT IN` negates through the CASE, preserving NULL.) The first
  * EXISTS fires iff some row matches (TRUE per the standard); the
  * second iff no row matches but some comparison is UNKNOWN — a NULL
  * probe against a nonempty set, or a NULL member — which is exactly
  * the standard's UNKNOWN; otherwise FALSE. Multi-column probes
  * compose through the conjunction's own 3VL (`isnull(a=x AND b=y)`
  * is true only when the AND is UNKNOWN, not when it is FALSE with a
  * NULL leg).
  *
  * Scale posture: the expansion costs one extra existence join per
  * endangered IN versus Spark's single ExistenceJoin. The match side
  * stays an equi (hash) join; the UNKNOWN side for scalar probes is
  * decomposed into `(v IS NULL AND EXISTS q) OR EXISTS (q WHERE x IS
  * NULL)` — no per-row probe coupling, so no nested-loop join on an
  * `isnull(v = x)` theta condition. Non-nullable probes/sets (the
  * common analytics case: key IN (SELECT key …)) keep Spark's native
  * single-join plan untouched.
  *
  * Applied to ANALYZED plans (before optimization) by [[frame]], on
  * every SELECT [[graft.QueryDef.pgPlan]] plans (queries, views, CTAS
  * and INSERT sources, `COPY (…) TO`) and every frame a write filters
  * or projects by statement text, RETURNING included, so reads and
  * writes share one 3VL; re-analysis after the rewrite deduplicates
  * the shared subplan instances.
  */
object NullAwareIn {

  /** True when Spark's exists-flag conflation is observable: some
    * comparison leg can be NULL. Non-nullable probe AND non-nullable
    * subquery output ⇒ 2VL, native plan already correct.
    */
  private def endangered(in: InSubquery): Boolean =
    in.values.exists(_.nullable) || in.query.plan.output.exists(_.nullable)

  /** References to outer-scope attributes must be wrapped for use
    * inside the subquery's filter. `values` come from the enclosing
    * operator's scope, so every attribute they mention is outer
    * relative to the new EXISTS.
    */
  private def wrapOuter(e: Expression): Expression = e.transformUp {
    case a: AttributeReference => OuterReference(a)
  }

  private def matchPredicate(values: Seq[Expression],
      plan: LogicalPlan): Expression =
    values.zip(plan.output)
      .map { case (v, a) => EqualTo(wrapOuter(v), a) }
      .reduce[Expression](And(_, _))

  private def expand(in: InSubquery): Expression = {
    val q = in.query
    val outer = (q.outerAttrs ++
      in.values.flatMap(_.references.toSeq)).distinct
    def exists(plan: LogicalPlan, oa: Seq[Expression]) =
      Exists(plan, oa, NamedExpression.newExprId, Seq.empty, q.hint)
    val matched = exists(
      Filter(matchPredicate(in.values, q.plan), q.plan), outer)
    // "some comparison is UNKNOWN": for a single scalar probe this
    // decomposes into probe-NULL × set-nonempty plus a-NULL-member —
    // two EXISTS with NO per-row probe coupling (hash/scalar shapes at
    // scale, vs a nested-loop join on `isnull(v = x)`). Multi-column
    // probes keep the general IsNull(pred) form: the conjunction can
    // go FALSE with a NULL leg, so UNKNOWN is not leg-decomposable.
    val unknown = in.values match {
      case Seq(v) =>
        Or(
          And(IsNull(v), exists(q.plan, q.outerAttrs)),
          exists(Filter(IsNull(q.plan.output.head), q.plan), q.outerAttrs))
      case _ =>
        exists(Filter(IsNull(matchPredicate(in.values, q.plan)), q.plan),
          outer)
    }
    CaseWhen(
      Seq((matched: Expression) -> Literal(true),
        unknown -> Literal.create(null, BooleanType)),
      Some(Literal(false)))
  }

  private def rewriteExpr(e: Expression): Expression = e.transformUp {
    case in: InSubquery if endangered(in) => expand(in)
  }

  /** Positions where Spark's native handling is already correct: the
    * top-level conjuncts of a Filter condition (plain or negated) —
    * these become semi / null-aware anti joins. Everything else in
    * the condition (IN under OR, CASE, coalesce, …) goes through the
    * existence-join path and needs the expansion.
    */
  private def rewriteFilterCondition(cond: Expression): Expression = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    split(cond).map {
      case in: InSubquery => in
      case n @ Not(_: InSubquery) => n
      case other => rewriteExpr(other)
    }.reduce[Expression](And(_, _))
  }

  /** Rewrite every endangered value-position IN in `plan` (descending
    * into nested subqueries). Projections, aggregates,
    * window expressions, and join conditions are value positions
    * (join ON is top-level-exempt like Filter: Spark plans those
    * conjuncts correctly and UNKNOWN≡FALSE for row matching, but a
    * non-top-level IN — under coalesce/CASE — needs the expansion);
    * filter top-level conjuncts are exempt.
    */
  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case f: Filter => f.copy(condition = rewriteFilterCondition(f.condition))
    case p: Project =>
      p.copy(projectList = p.projectList
        .map(e => rewriteExpr(e).asInstanceOf[NamedExpression]))
    case a: Aggregate =>
      a.copy(aggregateExpressions = a.aggregateExpressions
        .map(e => rewriteExpr(e).asInstanceOf[NamedExpression]))
    case j: Join if j.condition.isDefined =>
      j.copy(condition = j.condition.map(rewriteFilterCondition))
    // Sort keys cannot carry IN-subqueries at all in Spark (the
    // analyzer rejects them before this rewrite runs — a loud error,
    // not a silent conflation)
    case w: Window =>
      w.copy(windowExpressions = w.windowExpressions
        .map(e => rewriteExpr(e).asInstanceOf[NamedExpression]))
  }

  /** `df` with [[apply]] run over its analyzed plan; `df` itself, its
    * analysis kept, when nothing was rewritten.
    */
  def frame(df: DataFrame): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val fixed = apply(analyzed)
    if (fixed.fastEquals(analyzed)) df
    else org.apache.spark.sql.GraftBridge.ofRows(df.sparkSession, fixed)
  }
}
