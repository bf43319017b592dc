package graft

import org.scalatest.funsuite.AnyFunSuite

/** PG domains (reference test_domain.py), table inheritance and
  * declarative range partitioning (test_inheritance.py) on the engine
  * SQL surface.
  */
class DomainInheritanceSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def engine(): LakeEngine = LakeEngine(spark)

  test("domain: base type in metadata, default applies, check enforces") {
    val e = engine()
    e.sql("CREATE DOMAIN year_int AS integer CHECK (value >= 1 AND value <= 9999)")
    e.sql("CREATE DOMAIN small_float AS double precision CHECK (value > 0)")
    e.sql("CREATE DOMAIN dtext AS text DEFAULT 'dflt'")
    e.sql("CREATE TABLE domain_types (y year_int, d small_float, t dtext)")
    // domain over scalar must produce the BASE type in table metadata
    val schema = e.table("domain_types").meta.sparkSchema
    assert(schema("y").dataType == org.apache.spark.sql.types.IntegerType)
    assert(schema("d").dataType == org.apache.spark.sql.types.DoubleType)
    assert(schema("t").dataType == org.apache.spark.sql.types.StringType)
    e.sql("INSERT INTO domain_types VALUES (2024, 3.14, 'hello')")
    val r = e.sql("SELECT y, d, t FROM domain_types").head
    assert(r.getInt(0) == 2024 && math.abs(r.getDouble(1) - 3.14) < 1e-9 &&
      r.getString(2) == "hello")
    // short VALUES list fills the remaining columns from defaults
    e.sql("INSERT INTO domain_types VALUES (2025, 1.5)")
    val d = e.sql(
      "SELECT t FROM domain_types WHERE y = 2025").head
    assert(d.getString(0) == "dflt")
    // check violation raises with the PG message
    val ex = intercept[Exception](
      e.sql("INSERT INTO domain_types VALUES (2026, -1.0, 'x')"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(ex).exists(m => m != null &&
      m.contains("value for domain small_float violates check constraint")))
    // NULL passes the check (PG: NULL check result is not a violation)
    e.sql("INSERT INTO domain_types VALUES (2027, NULL, 'n')")
    assert(e.sql("SELECT count(*) AS n FROM domain_types").head.getLong(0) == 3)
    // duplicate create refused; drop works
    intercept[IllegalArgumentException](
      e.sql("CREATE DOMAIN year_int AS int"))
    e.sql("DROP DOMAIN dtext")
    intercept[IllegalArgumentException](e.sql("DROP DOMAIN dtext"))
    e.sql("DROP DOMAIN IF EXISTS dtext")
    e.dropTable("domain_types")
  }

  test("domain check enforced on COPY FROM (reference copy_from_domain)") {
    val e = engine()
    val dir = java.nio.file.Files.createTempDirectory("dom_copy").toString
    spark.sql("SELECT 9 AS x, -1 AS y").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/in.parquet")
    e.sql("CREATE DOMAIN positive AS int CHECK (value > 0)")
    e.sql("CREATE TABLE copy_dom (x int, y positive DEFAULT 2)")
    val ex = intercept[Exception](
      e.sql(s"COPY copy_dom FROM '$dir/in.parquet/*.parquet'"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(ex).exists(m => m != null &&
      m.contains("value for domain positive violates check constraint")))
    assert(e.sql("SELECT count(*) AS n FROM copy_dom").head.getLong(0) == 0)
    e.sql("DROP DOMAIN positive")
    e.dropTable("copy_dom")
  }

  test("domain CHECK: VALUE inside a string literal is content") {
    // CHECK (VALUE <> 'no value') — a regex word-boundary substitution
    // would rewrite the literal's contents too ('no <col>'), silently
    // changing which rows pass; the token-wise splice must not.
    val e = engine()
    e.sql("CREATE DOMAIN msgd AS text CHECK (VALUE <> 'no value')")
    e.sql("CREATE TABLE dom_lit (id int, m msgd)")
    e.sql("INSERT INTO dom_lit VALUES (1, 'some value')")
    assert(e.sql("SELECT m FROM dom_lit WHERE id = 1")
      .head.getString(0) == "some value")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    val exIns = intercept[Exception](
      e.sql("INSERT INTO dom_lit VALUES (2, 'no value')"))
    assert(msgs(exIns).exists(m => m != null &&
      m.contains("value for domain msgd violates check constraint")))
    // UPDATE path uses the same substitution (guardedAssignments)
    val exUpd = intercept[Exception](
      e.sql("UPDATE dom_lit SET m = 'no value' WHERE id = 1"))
    assert(msgs(exUpd).exists(m => m != null &&
      m.contains("value for domain msgd violates check constraint")))
    e.sql("UPDATE dom_lit SET m = 'fine' WHERE id = 1")
    assert(e.sql("SELECT m FROM dom_lit WHERE id = 1")
      .head.getString(0) == "fine")
    e.sql("DROP DOMAIN msgd")
    e.dropTable("dom_lit")
  }

  test("domain CHECK: a paren inside a string literal is content") {
    // the CHECK's closing paren is the matching paren TOKEN, so the
    // ')' literal stays inside the expression
    val e = engine()
    e.sql("CREATE DOMAIN pard AS text CHECK (VALUE <> ')')")
    e.sql("CREATE TABLE dom_par (id int, p pard)")
    e.sql("INSERT INTO dom_par VALUES (1, 'ok')")
    assert(e.sql("SELECT p FROM dom_par WHERE id = 1")
      .head.getString(0) == "ok")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    val ex = intercept[Exception](
      e.sql("INSERT INTO dom_par VALUES (2, ')')"))
    assert(msgs(ex).exists(m => m != null &&
      m.contains("value for domain pard violates check constraint")))
    assert(e.sql("SELECT count(*) FROM dom_par").head.getLong(0) == 1)
    e.sql("DROP DOMAIN pard")
    e.dropTable("dom_par")
  }

  test("inheritance: parent scans the family, joins stay per-table") {
    val e = engine()
    e.sql("CREATE TABLE parent_i AS SELECT id AS x, id AS y FROM RANGE(1, 11)")
    e.sql("CREATE TABLE child_i (LIKE parent_i) INHERITS (parent_i)")
    e.sql("CREATE TABLE grandchild_i () INHERITS (child_i)")
    e.sql("CREATE TABLE empty_grandchild_i () INHERITS (child_i)")
    e.sql("INSERT INTO child_i SELECT id, id FROM RANGE(11, 16)")
    e.sql("INSERT INTO grandchild_i SELECT id, id FROM RANGE(21, 26)")
    // a foreign sibling joins the family via ALTER ... INHERIT
    spark.sql("SELECT id AS x, id AS y FROM RANGE(21, 31)")
      .createOrReplaceTempView("child_pq_i")
    e.sql("ALTER TABLE child_pq_i INHERIT parent_i")
    assert(e.sql("SELECT count(*) AS n FROM parent_i").head.getLong(0) == 30)
    assert(e.sql("SELECT count(*) AS n FROM child_i").head.getLong(0) == 10)
    // child join against the foreign sibling: 5 overlapping keys
    assert(e.sql(
      """SELECT count(*) AS n FROM grandchild_i
        |JOIN child_pq_i USING (x)""".stripMargin).head.getLong(0) == 5)
    // NO INHERIT detaches the foreign sibling
    e.sql("ALTER TABLE child_pq_i NO INHERIT parent_i")
    assert(e.sql("SELECT count(*) AS n FROM parent_i").head.getLong(0) == 20)
    // parent DML propagates to the (all-lake) family
    e.sql("DELETE FROM parent_i WHERE x > 23")
    assert(e.sql("SELECT count(*) AS n FROM child_i").head.getLong(0) == 8)
    // 10 + 5 + (5-2 deleted) = 18
    assert(e.sql("SELECT count(*) AS n FROM parent_i").head.getLong(0) == 18)
    // dropping a parent with children refuses
    intercept[IllegalArgumentException](e.dropTable("child_i"))
    e.dropTable("grandchild_i"); e.dropTable("empty_grandchild_i")
    e.dropTable("child_i"); e.dropTable("parent_i")
  }

  test("foreign member in family makes parent DML refuse loudly") {
    val e = engine()
    e.sql("CREATE TABLE parent_f AS SELECT 1 AS x")
    spark.sql("SELECT 2 AS x").createOrReplaceTempView("foreign_f")
    e.sql("ALTER TABLE foreign_f INHERIT parent_f")
    val ex = intercept[IllegalArgumentException](
      e.sql("DELETE FROM parent_f WHERE x = 2"))
    assert(ex.getMessage.contains("foreign members"))
    e.sql("ALTER TABLE foreign_f NO INHERIT parent_f")
    e.dropTable("parent_f")
  }

  test("range partitioning: inserts route, default catches, reads union") {
    val e = engine()
    e.sql("CREATE TABLE part_p (x int, y int) PARTITION BY RANGE (x)")
    e.sql("CREATE TABLE part_c1 PARTITION OF part_p FOR VALUES FROM (1) TO (10)")
    e.sql("CREATE TABLE part_c2 PARTITION OF part_p DEFAULT")
    val n = e.sql(
      "INSERT INTO part_p SELECT id, id FROM RANGE(1, 21)").head.getLong(0)
    assert(n == 20)
    assert(e.sql("SELECT count(*) AS n FROM part_p").head.getLong(0) == 20)
    // [1,10) lands in c1, the rest in the default
    assert(e.sql("SELECT count(*) AS n FROM part_c1").head.getLong(0) == 9)
    assert(e.sql("SELECT count(*) AS n FROM part_c2").head.getLong(0) == 11)
    assert(e.sql("SELECT max(x) AS m FROM part_c1").head.getInt(0) == 9)
    // family DML propagates from the virtual parent
    e.sql("DELETE FROM part_p WHERE x >= 15")
    assert(e.sql("SELECT count(*) AS n FROM part_p").head.getLong(0) == 14)
    // second DEFAULT refused
    intercept[IllegalArgumentException](
      e.sql("CREATE TABLE part_c3 PARTITION OF part_p DEFAULT"))
    e.dropTable("part_c1"); e.dropTable("part_c2")
  }

  test("partitioned-parent INSERT executes the source exactly once") {
    // K children used to mean K+1 filter-scans of the source (one per
    // child + the stray check); the staged-routing path must scan it
    // once regardless of partition count.
    val e = engine()
    e.sql("CREATE TABLE part_1s (x int, y int) PARTITION BY RANGE (x)")
    e.sql("CREATE TABLE part_1s_a PARTITION OF part_1s FOR VALUES FROM (0) TO (10)")
    e.sql("CREATE TABLE part_1s_b PARTITION OF part_1s FOR VALUES FROM (10) TO (20)")
    e.sql("CREATE TABLE part_1s_c PARTITION OF part_1s FOR VALUES FROM (20) TO (30)")
    e.sql("CREATE TABLE part_1s_d PARTITION OF part_1s DEFAULT")
    val src = spark.range(0, 40).selectExpr("CAST(id AS INT) AS x",
      "CAST(id * 2 AS INT) AS y")
    val seen = spark.sparkContext.longAccumulator("part_rows_seen")
    spark.createDataFrame(
        src.rdd.map { r => seen.add(1); r }, src.schema)
      .createOrReplaceTempView("part_1s_src")
    val n = e.sql("INSERT INTO part_1s SELECT * FROM part_1s_src")
      .head.getLong(0)
    assert(n == 40)
    assert(seen.value == 40,
      s"source scanned ${seen.value} rows for a 40-row insert " +
        "across 4 partitions — must be exactly one pass")
    assert(e.sql("SELECT count(*) AS n FROM part_1s_a").head.getLong(0) == 10)
    assert(e.sql("SELECT count(*) AS n FROM part_1s_b").head.getLong(0) == 10)
    assert(e.sql("SELECT count(*) AS n FROM part_1s_c").head.getLong(0) == 10)
    assert(e.sql("SELECT count(*) AS n FROM part_1s_d").head.getLong(0) == 10)

    // stray check without a DEFAULT partition also rides the staged
    // frame: still one source scan, statement aborts, nothing written
    e.sql("CREATE TABLE part_1t (x int) PARTITION BY RANGE (x)")
    e.sql("CREATE TABLE part_1t_a PARTITION OF part_1t FOR VALUES FROM (0) TO (10)")
    val seen2 = spark.sparkContext.longAccumulator("stray_rows_seen")
    val src2 = spark.range(0, 20).selectExpr("CAST(id AS INT) AS x")
    spark.createDataFrame(
        src2.rdd.map { r => seen2.add(1); r }, src2.schema)
      .createOrReplaceTempView("part_1t_src")
    intercept[Exception](
      e.sql("INSERT INTO part_1t SELECT * FROM part_1t_src"))
    assert(seen2.value == 20,
      s"stray-check path scanned ${seen2.value} rows, not one pass")
    assert(e.sql("SELECT count(*) AS n FROM part_1t_a").head.getLong(0) == 0)
    e.dropTable("part_1s_a"); e.dropTable("part_1s_b")
    e.dropTable("part_1s_c"); e.dropTable("part_1s_d")
    e.dropTable("part_1t_a")
  }

  test("partitioned INSERT: domain violation aborts during staging") {
    // the staged single-scan write evaluates domain CHECKs while
    // materializing — a violation must abort with NOTHING landed in
    // any child (before, the first K-1 children could commit first)
    val e = engine()
    e.sql("CREATE DOMAIN pos_y AS int CHECK (value > 0)")
    e.sql("CREATE TABLE part_dv (x int, y pos_y) PARTITION BY RANGE (x)")
    e.sql("CREATE TABLE part_dv_a PARTITION OF part_dv FOR VALUES FROM (0) TO (10)")
    e.sql("CREATE TABLE part_dv_b PARTITION OF part_dv DEFAULT")
    val ex = intercept[Exception](e.sql(
      "INSERT INTO part_dv SELECT id, CAST(id - 15 AS INT) " +
        "FROM RANGE(0, 20)"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(ex).exists(_.contains(
      "value for domain pos_y violates check constraint")))
    assert(e.sql("SELECT count(*) AS n FROM part_dv_a").head.getLong(0) == 0)
    assert(e.sql("SELECT count(*) AS n FROM part_dv_b").head.getLong(0) == 0)
    // a clean insert still routes
    assert(e.sql("INSERT INTO part_dv SELECT id, CAST(id + 1 AS INT) " +
      "FROM RANGE(0, 20)").head.getLong(0) == 20)
    assert(e.sql("SELECT count(*) AS n FROM part_dv_a").head.getLong(0) == 10)
    e.dropTable("part_dv_a"); e.dropTable("part_dv_b")
    e.sql("DROP DOMAIN pos_y")
  }

  test("UPDATE enforces domain checks; rename migrates enforcement") {
    val e = engine()
    e.sql("CREATE DOMAIN posint AS int CHECK (value > 0)")
    e.sql("CREATE TABLE upd_dom (a posint, b int)")
    e.sql("INSERT INTO upd_dom VALUES (1, 10)")
    val ex = intercept[Exception](e.sql("UPDATE upd_dom SET a = -5"))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(ex).exists(m => m != null &&
      m.contains("value for domain posint violates check constraint")))
    assert(e.sql("SELECT a FROM upd_dom").head.getInt(0) == 1)
    e.sql("UPDATE upd_dom SET a = 7") // passing value still works
    assert(e.sql("SELECT a FROM upd_dom").head.getInt(0) == 7)
    // rename keeps the enforcement attached
    e.renameTable("upd_dom", "upd_dom2")
    intercept[Exception](e.sql("UPDATE upd_dom2 SET a = -1"))
    intercept[Exception](e.sql("INSERT INTO upd_dom2 VALUES (-2, 0)"))
    e.sql("DROP DOMAIN posint")
    e.dropTable("upd_dom2")
  }

  test("rename of a family member keeps family reads and DML working") {
    val e = engine()
    e.sql("CREATE TABLE parent_r AS SELECT 1 AS x")
    e.sql("CREATE TABLE child_r () INHERITS (parent_r)")
    e.sql("INSERT INTO child_r VALUES (2)")
    e.renameTable("child_r", "child_r2")
    assert(e.sql("SELECT count(*) AS n FROM parent_r").head.getLong(0) == 2)
    e.sql("DELETE FROM parent_r WHERE x = 2") // propagates to renamed child
    assert(e.sql("SELECT count(*) AS n FROM child_r2").head.getLong(0) == 0)
    e.dropTable("child_r2"); e.dropTable("parent_r")
  }

  test("partitioned parent drops once childless; MINVALUE/MAXVALUE bounds") {
    val e = engine()
    e.sql("CREATE TABLE part_m (x int) PARTITION BY RANGE (x)")
    e.sql("CREATE TABLE part_m1 PARTITION OF part_m " +
      "FOR VALUES FROM (MINVALUE) TO (0)")
    e.sql("CREATE TABLE part_m2 PARTITION OF part_m " +
      "FOR VALUES FROM (0) TO (MAXVALUE)")
    e.sql("INSERT INTO part_m SELECT id - 5 FROM RANGE(0, 10)")
    assert(e.sql("SELECT count(*) AS n FROM part_m1").head.getLong(0) == 5)
    assert(e.sql("SELECT count(*) AS n FROM part_m2").head.getLong(0) == 5)
    // non-constant bound refused at CREATE, before anything lands
    intercept[IllegalArgumentException](e.sql(
      "CREATE TABLE part_m3 PARTITION OF part_m FOR VALUES FROM (y) TO (9)"))
    // drop: refused with children, real once childless
    intercept[IllegalArgumentException](e.sql("DROP TABLE part_m"))
    e.dropTable("part_m1"); e.dropTable("part_m2")
    e.sql("DROP TABLE part_m")
    intercept[Exception](e.sql("SELECT * FROM part_m"))
  }

  test("ONLY: reads and DML target the parent alone (PG ddl-inherit)") {
    val e = engine()
    e.sql("CREATE TABLE parent_o AS SELECT 1 AS x UNION ALL SELECT 10")
    e.sql("CREATE TABLE child_o () INHERITS (parent_o)")
    e.sql("INSERT INTO child_o VALUES (2)")
    assert(e.sql("SELECT count(*) AS n FROM parent_o").head.getLong(0) == 3)
    assert(e.sql("SELECT count(*) AS n FROM ONLY parent_o")
      .head.getLong(0) == 2)
    // join position too
    assert(e.sql(
      """SELECT count(*) AS n FROM child_o c
        |JOIN ONLY parent_o p ON p.x > c.x""".stripMargin)
      .head.getLong(0) == 1)
    // DML ONLY: no family propagation — child keeps its row
    e.sql("UPDATE ONLY parent_o SET x = x + 100 WHERE x <= 2")
    assert(e.sql("SELECT x FROM child_o").head.getInt(0) == 2)
    assert(e.sql("SELECT count(*) AS n FROM ONLY parent_o WHERE x = 101")
      .head.getLong(0) == 1)
    e.sql("DELETE FROM ONLY parent_o WHERE x < 200")
    assert(e.sql("SELECT count(*) AS n FROM ONLY parent_o")
      .head.getLong(0) == 0)
    assert(e.sql("SELECT count(*) AS n FROM parent_o").head.getLong(0) == 1)
    e.dropTable("child_o"); e.dropTable("parent_o")
  }

  test("NULL partition keys route to DEFAULT; ONLY on a virtual parent") {
    val e = engine()
    e.sql("CREATE TABLE part_n (x int) PARTITION BY RANGE (x)")
    e.sql("CREATE TABLE part_n1 PARTITION OF part_n " +
      "FOR VALUES FROM (MINVALUE) TO (MAXVALUE)")
    e.sql("CREATE TABLE part_n2 PARTITION OF part_n DEFAULT")
    e.sql("INSERT INTO part_n VALUES (1), (NULL)")
    assert(e.sql("SELECT count(*) AS n FROM part_n1").head.getLong(0) == 1)
    assert(e.sql("SELECT count(*) AS n FROM part_n2").head.getLong(0) == 1)
    // DML ONLY on the virtual parent is a PG-valid 0-row no-op
    assert(e.sql("DELETE FROM ONLY part_n").head.getLong(0) == 0)
    assert(e.sql("SELECT count(*) AS n FROM part_n").head.getLong(0) == 2)
    // ghost-view check: dropping everything makes ONLY reads fail too
    e.dropTable("part_n1"); e.dropTable("part_n2"); e.sql("DROP TABLE part_n")
    intercept[Exception](e.sql("SELECT * FROM ONLY part_n"))
  }

  test("TRUNCATE propagates over the family; TRUNCATE ONLY does not") {
    val e = engine()
    e.sql("CREATE TABLE parent_t AS SELECT 1 AS x")
    e.sql("CREATE TABLE child_t () INHERITS (parent_t)")
    e.sql("INSERT INTO child_t VALUES (2)")
    e.sql("TRUNCATE ONLY parent_t")
    assert(e.sql("SELECT count(*) AS n FROM parent_t").head.getLong(0) == 1)
    assert(e.sql("SELECT count(*) AS n FROM child_t").head.getLong(0) == 1)
    e.sql("INSERT INTO parent_t VALUES (3)")
    e.sql("TRUNCATE parent_t")
    assert(e.sql("SELECT count(*) AS n FROM parent_t").head.getLong(0) == 0)
    assert(e.sql("SELECT count(*) AS n FROM child_t").head.getLong(0) == 0)
    // partitioned parents truncate their children too
    e.sql("CREATE TABLE part_t (x int) PARTITION BY RANGE (x)")
    e.sql("CREATE TABLE part_t1 PARTITION OF part_t DEFAULT")
    e.sql("INSERT INTO part_t VALUES (5)")
    e.sql("TRUNCATE part_t")
    assert(e.sql("SELECT count(*) AS n FROM part_t").head.getLong(0) == 0)
    e.dropTable("part_t1"); e.sql("DROP TABLE part_t")
    e.dropTable("child_t"); e.dropTable("parent_t")
  }

  test("range partitioning without default: stray rows refuse") {
    val e = engine()
    e.sql("CREATE TABLE part_q (x int) PARTITION BY RANGE (x)")
    e.sql("CREATE TABLE part_q1 PARTITION OF part_q FOR VALUES FROM (0) TO (5)")
    intercept[Exception](
      e.sql("INSERT INTO part_q SELECT id FROM RANGE(0, 9)"))
    // the stray check runs BEFORE any append: nothing was written
    assert(e.sql("SELECT count(*) AS n FROM part_q1").head.getLong(0) == 0)
    e.dropTable("part_q1")
  }
}
