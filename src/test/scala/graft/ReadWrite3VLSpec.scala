package graft

import org.scalatest.funsuite.AnyFunSuite

/** One SELECT text answers the same whether it is read or written:
  * every `LakeEngine.sql` route that plans SELECT text goes through
  * [[QueryDef.pgPlan]], so the three-valued `[NOT] IN (subquery)` of
  * [[graft.plans.NullAwareIn]] holds for stored rows too. The text
  * projects `v NOT IN {1, NULL}` for v ∈ {1, 2}: FALSE for 1, and
  * UNKNOWN (NULL) for 2 — stock Spark's exists flag would store FALSE.
  */
class ReadWrite3VLSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private val select =
    "SELECT v, v NOT IN (SELECT x FROM VALUES (1), (NULL) t(x)) AS r " +
      "FROM VALUES (1), (2) s(v)"
  private val expected = Seq(1 -> Some(false), 2 -> None)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("v").collect().toSeq.map(row => row.getInt(0) ->
      (if (row.isNullAt(1)) None else Some(row.getBoolean(1))))

  test("SELECT, CTAS, INSERT, partitioned INSERT, COPY TO and a " +
      "materialized view store the same three-valued column") {
    val e = LakeEngine(spark)
    def stored(name: String) = rows(e.sql(s"SELECT v, r FROM $name"))

    val routes = Seq.newBuilder[(String, Seq[(Int, Option[Boolean])])]
    routes += "SELECT" -> rows(e.sql(select))

    e.sql(s"CREATE TABLE rw3vl_ctas AS $select")
    routes += "CTAS" -> stored("rw3vl_ctas")

    e.sql("CREATE TABLE rw3vl_ins (v int, r boolean)")
    e.sql(s"INSERT INTO rw3vl_ins $select")
    routes += "INSERT ... SELECT" -> stored("rw3vl_ins")

    e.sql("CREATE TABLE rw3vl_part (v int, r boolean) PARTITION BY RANGE (v)")
    e.sql("CREATE TABLE rw3vl_part_a PARTITION OF rw3vl_part " +
      "FOR VALUES FROM (0) TO (10)")
    e.sql(s"INSERT INTO rw3vl_part $select")
    routes += "INSERT into a range-partitioned parent" -> stored("rw3vl_part")

    val out = LakeEngine.tempLocation("rw3vl_copy") + ".parquet"
    e.sql(s"COPY ($select) TO '$out'")
    routes += "COPY (...) TO" -> rows(spark.read.parquet(out))

    e.sql(s"CREATE MATERIALIZED VIEW rw3vl_mv AS $select")
    routes += "CREATE MATERIALIZED VIEW" -> stored("rw3vl_mv")

    val wrong = routes.result().filter(_._2 != expected)
    assert(wrong.isEmpty, wrong.map { case (route, got) =>
      s"$route stored $got" }.mkString("; "))
    e.sql("DROP MATERIALIZED VIEW rw3vl_mv")
    Seq("rw3vl_part_a", "rw3vl_part", "rw3vl_ins", "rw3vl_ctas")
      .foreach(t => e.sql(s"DROP TABLE $t"))
  }
}
