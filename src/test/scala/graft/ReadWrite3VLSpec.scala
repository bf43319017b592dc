package graft

import org.scalatest.funsuite.AnyFunSuite

/** One SELECT text answers the same whether it is read or written:
  * every `LakeEngine.sql` route that plans SELECT text goes through
  * [[QueryDef.pgPlan]], and every frame an UPDATE, DELETE or RETURNING
  * filters or projects by its text through the same fix-up, so the
  * three-valued `[NOT] IN (subquery)` of [[graft.plans.NullAwareIn]]
  * holds for stored rows too. The text projects `v NOT IN {1, NULL}`
  * for v ∈ {1, 2}: FALSE for 1, and UNKNOWN (NULL) for 2 — stock
  * Spark's exists flag would store FALSE.
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

  test("UPDATE, DELETE and every RETURNING list filter and project " +
      "with the same three-valued IN") {
    val e = LakeEngine(spark)
    val notIn = "v NOT IN (SELECT x FROM VALUES (1), (NULL) t(x))"
    def fresh(name: String): String = {
      e.sql(s"CREATE TABLE $name (v int, r boolean)")
      e.sql(s"INSERT INTO $name VALUES (1, true), (2, true)")
      name
    }
    def stored(name: String) = rows(e.sql(s"SELECT v, r FROM $name"))

    val routes = Seq.newBuilder[(String, Seq[(Int, Option[Boolean])])]
    val upd = fresh("rw3vl_upd")
    e.sql(s"UPDATE $upd SET r = $notIn")
    routes += "UPDATE ... SET r = <NOT IN>" -> stored(upd)

    e.sql("CREATE TABLE rw3vl_fam (v int, r boolean)")
    e.sql("CREATE TABLE rw3vl_fam_kid () INHERITS (rw3vl_fam)")
    e.sql("INSERT INTO rw3vl_fam VALUES (1, true)")
    e.sql("INSERT INTO rw3vl_fam_kid VALUES (2, true)")
    e.sql(s"UPDATE rw3vl_fam SET r = $notIn")
    routes += "UPDATE over an inheritance family" -> stored("rw3vl_fam")

    routes += "UPDATE ... RETURNING" -> rows(
      e.sql(s"UPDATE ${fresh("rw3vl_updret")} SET r = $notIn RETURNING v, r"))
    routes += "DELETE ... RETURNING" -> rows(
      e.sql(s"DELETE FROM ${fresh("rw3vl_delret")} RETURNING v, $notIn AS r"))
    e.sql("CREATE TABLE rw3vl_insret (v int, r boolean)")
    routes += "INSERT ... RETURNING" -> rows(e.sql("INSERT INTO rw3vl_insret " +
      s"VALUES (1, true), (2, true) RETURNING v, $notIn AS r"))

    // coalesce(UNKNOWN, true) deletes v = 2; v = 1 reads FALSE and stays
    val del = fresh("rw3vl_del")
    e.sql(s"DELETE FROM $del WHERE coalesce($notIn, true)")
    val kept = e.sql(s"SELECT v FROM $del").collect().map(_.getInt(0)).toSeq

    val wrong = routes.result().filter(_._2 != expected).map {
      case (route, got) => s"$route gave $got" } ++
      (if (kept == Seq(1)) Nil
      else Seq(s"DELETE ... WHERE coalesce(<NOT IN>, true) kept v = $kept"))
    assert(wrong.isEmpty, wrong.mkString("; "))
    Seq("rw3vl_fam_kid", "rw3vl_fam", "rw3vl_upd", "rw3vl_updret",
      "rw3vl_delret", "rw3vl_insret", "rw3vl_del").foreach(e.dropTable(_))
  }

  test("a keyed UPDATE and DELETE keep every file that holds no match") {
    import spark.implicits._
    val e = LakeEngine(spark)
    val t = graft.lake.LakeTable.createAsSelect(spark,
      LakeEngine.tempLocation("rw3vl_prune"), "rw3vl_prune",
      (0 until 40).map(i => (i, i % 2 == 0)).toDF("v", "r").orderBy("v"),
      targetFiles = Some(4),
      properties = Map("autovacuum_enabled" -> "false"))
    e.register("rw3vl_prune", t)
    def files() = t.meta.currentSnapshot.get.dataFiles
    val vId = t.meta.currentSchema.fields.find(_.name == "v").get.id.toString
    assert(files().size >= 4)
    for ((stmt, v) <- Seq("UPDATE rw3vl_prune SET r = NOT r WHERE v = 5" -> 5,
        "DELETE FROM rw3vl_prune WHERE v = 30" -> 30)) {
      // files whose v range excludes the key
      val others = files().filterNot { f =>
        val st = f.fieldStats(vId)
        st.min.forall(_.toInt <= v) && st.max.forall(_.toInt >= v)
      }.map(_.path).toSet
      assert(others.size >= 3)
      e.sql(stmt)
      val lost = others -- files().map(_.path)
      assert(lost.isEmpty, s"$stmt dropped files without a match: $lost")
    }
    assert(e.sql("SELECT count(*) FROM rw3vl_prune").head.getLong(0) == 39)
    e.dropTable("rw3vl_prune")
  }
}
