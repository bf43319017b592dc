package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] implements one operator from SURVEY.md §2
  * with idiomatic Spark; [[oracleSql]] carries the DuckDB-equivalent SQL
  * the driver uses for differential verification (the reference's own
  * test strategy — differential execution against a trusted engine,
  * test_common/helpers/comparisons.py:134-168).
  */
object SparkEntry {

  /** All judged queries, grouped by SURVEY.md §2 area. */
  def allDefs: Seq[QueryDef] =
    _root_.graft.queries.Relational.defs ++
      _root_.graft.queries.Aggregates.defs ++
      _root_.graft.queries.Windows.defs ++
      _root_.graft.queries.Functions.defs ++
      _root_.graft.queries.Pipeline.defs ++
      _root_.graft.queries.Tpch.defs ++
      _root_.graft.queries.TpcDs.defs ++
      _root_.graft.queries.ClickBench.defs ++
      _root_.graft.queries.TypeMatrix.defs ++
      _root_.graft.queries.Fuzz.defs ++
      _root_.graft.queries.Spatial.defs ++
      _root_.graft.queries.Temporal.defs

  /** The local session the mains run on: `local[SPARK_GRAFT_CPUS]`
    * (`defaultCpus` when unset) with as many shuffle partitions, UTC
    * session time, no UI, logging at `logLevel`.
    */
  def localSession(defaultCpus: String, logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    byName("q1_agg").run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap

  private def byName(n: String): QueryDef =
    allDefs.find(_.name == n).getOrElse(sys.error(s"no query named $n"))
}
