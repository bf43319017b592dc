package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One judged query: a Spark implementation plus (usually) a DuckDB
  * oracle SQL over the same parquet fixture tables.
  *
  * Determinism contract (the driver hash-compares values):
  *   - every query ends in a total ORDER BY, identical on both sides;
  *   - float aggregates are made exact by casting per-row doubles to
  *     fixed-scale DECIMAL before SUM (per-row IEEE ops are bit-identical
  *     across engines; only accumulation order varies), then casting the
  *     final value back to DOUBLE;
  *   - column names are aliased identically on both sides.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))

  /** Non-SQL-expressible op: driver records a weaker rows-only check. */
  def rowsOnly(name: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, None)

  /** Query expressed as SQL text run through `pgSql` over the fixture
    * views. When the Spark and DuckDB dialects agree the same text is the
    * oracle; pass `oracle` where they diverge.
    */
  def sql(name: String, sparkSql: String, oracle: String = null): QueryDef =
    QueryDef(
      name,
      (s: SparkSession, dir: String) => {
        Tables.registerAll(s, dir)
        pgSql(s, sparkSql)
      },
      Some(Option(oracle).getOrElse(sparkSql)))

  /** `spark.sql` with reference (PG/DuckDB) semantics restored where
    * stock Spark diverges: the PG dialect text rewrites, then the
    * analyzed-plan fix-ups. Plans needing neither pass through
    * untouched.
    */
  def pgSql(s: SparkSession, text: String): DataFrame =
    pgPlan(s, pgRewrite(text))

  /** The PG dialect text rewrites, in order: the only copy of the chain.
    * Each pass is a [[graft.plans.PgLexer.Step]]; `PgLexer.chain` runs
    * them in this order, each to its fixpoint, lexing the statement once
    * and again only after a step changes it. Every statement the engine
    * runs, read or write, passes through it exactly once:
    * `LakeEngine.sql` rewrites the whole statement before routing, so its
    * statement regexes, and the UPDATE/DELETE clauses parsed into columns
    * for the lake write path, see Spark-parsable text.
    */
  def pgRewrite(text: String): String = {
    import graft.plans._
    PgLexer.chain(text, DoubleQuoteRewrite.step, MapTypeRewrite.step,
      RowCompareRewrite.step, PgCastRewrite.step, CollateRewrite.step,
      JsonArrowRewrite.step, ArrayLiteralRewrite.step,
      QuantifiedSubqueries.step, SimilarToRewrite.step,
      PosixRegexRewrite.step)
  }

  /** Plans already-rewritten SELECT text: registers the PG functions
    * the rewrites emit, parses with `spark.sql`, then gives value-
    * position `[NOT] IN (subquery)` the standard's three-valued result
    * via [[graft.plans.NullAwareIn.frame]] on the analyzed plan (before
    * the optimizer turns the IN into an ExistenceJoin).
    */
  def pgPlan(s: SparkSession, rewritten: String): DataFrame = {
    graft.functions.PgFunctions.register(s) // idempotent
    graft.plans.NullAwareIn.frame(s.sql(rewritten))
  }
}
