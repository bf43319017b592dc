package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL DML routing on the engine facade: INSERT/DELETE/UPDATE text
  * against managed tables goes through the transactional write path;
  * SELECTs run on Spark SQL over the pruning-indexed views.
  */
class SqlDmlSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("insert/update/delete via SQL text; selects see the new snapshots") {
    val e = LakeEngine(spark)
    val src = Tables.df(spark, sf, "region")
    e.createTableAsSelect("r_dml", LakeEngine.tempLocation("dml"), src)

    assert(e.sql("INSERT INTO r_dml VALUES (99, 'ATLANTIS')")
      .head.getLong(0) == 1)
    assert(e.sql("SELECT count(*) FROM r_dml").head.getLong(0)
      == src.count() + 1)

    assert(e.sql("UPDATE r_dml SET r_name = concat(r_name, '!') " +
      "WHERE r_regionkey = 99").head.getLong(0) == 1)
    assert(e.sql("SELECT r_name FROM r_dml WHERE r_regionkey = 99")
      .head.getString(0) == "ATLANTIS!")

    assert(e.sql("DELETE FROM r_dml WHERE r_regionkey = 99")
      .head.getLong(0) == 1)
    assert(e.sql("SELECT count(*) FROM r_dml").head.getLong(0) == src.count())

    // INSERT ... SELECT
    assert(e.sql("INSERT INTO r_dml SELECT r_regionkey + 100, r_name " +
      "FROM r_dml").head.getLong(0) == src.count())
    assert(e.sql("SELECT count(*) FROM r_dml WHERE r_regionkey >= 100")
      .head.getLong(0) == src.count())

    // time travel still works underneath
    assert(e.table("r_dml").meta.snapshots.length >= 5)
  }

  test("maintenance + DDL verbs route to the transactional table ops") {
    val e = LakeEngine(spark)
    val src = Tables.df(spark, sf, "events")
    e.createTableAsSelect("ev_ddl", LakeEngine.tempLocation("ddl"), src)

    // ALTER TABLE ... ADD / RENAME / DROP COLUMN (metadata-only)
    e.sql("ALTER TABLE ev_ddl ADD COLUMN note text")
    assert(e.sql("SELECT note FROM ev_ddl LIMIT 1").head.isNullAt(0))
    e.sql("ALTER TABLE ev_ddl RENAME COLUMN note TO remark")
    assert(e.table("ev_ddl").meta.sparkSchema.fieldNames.contains("remark"))
    e.sql("ALTER TABLE ev_ddl DROP COLUMN remark")
    assert(!e.table("ev_ddl").meta.sparkSchema.fieldNames.contains("remark"))

    // CLUSTER BY rewrites files along the z-curve
    assert(e.sql("ALTER TABLE ev_ddl CLUSTER BY (user_id, value)")
      .head.getString(0) == "user_id, value")
    assert(e.table("ev_ddl").read().count() == src.count())

    // SET PARTITIONED BY evolves the spec metadata-only
    assert(e.sql("ALTER TABLE ev_ddl SET PARTITIONED BY (day(ts))")
      .head.getString(0) == "day(ts)")
    assert(e.table("ev_ddl").meta.partitionSpec == Seq("day(ts)"))

    // inspection table functions
    assert(e.sql("SELECT * FROM lake_snapshots('ev_ddl')").count() >= 3)
    assert(e.sql("SELECT * FROM lake_files('ev_ddl')").count() >= 1)
    assert(e.sql(s"SELECT * FROM lake_file_list('$sf/*.parquet')")
      .count() == 10)

    // external-Iceberg inspection over an exported metadata.json URL:
    // the reference's lake_iceberg.files / lake_iceberg.metadata
    val metaPath = graft.lake.IcebergExport.export(e.table("ev_ddl"))
    val ifiles = e.sql(s"SELECT * FROM lake_iceberg_files('$metaPath')")
    assert(ifiles.columns.toSeq == Seq("manifest_path", "content",
      "file_path", "file_format", "spec_id", "record_count",
      "file_size_in_bytes"))
    assert(ifiles.count() >= 1)
    assert(ifiles.select("manifest_path").head.getString(0).nonEmpty)
    val imeta = e.sql(s"SELECT * FROM lake_iceberg_metadata('$metaPath')")
    assert(imeta.count() == 1)
    val fmtVer = imeta
      .select(org.apache.spark.sql.functions.get_json_object(
        org.apache.spark.sql.functions.col("metadata"), "$['format-version']"))
      .head.getString(0)
    assert(fmtVer == "2", s"format-version $fmtVer")

    // OPTIMIZE + VACUUM + TRUNCATE
    e.sql("OPTIMIZE ev_ddl")
    e.sql("VACUUM ev_ddl")
    assert(e.sql("TRUNCATE TABLE ev_ddl").head.getLong(0) == 0L)
    assert(e.sql("SELECT count(*) FROM ev_ddl").head.getLong(0) == 0L)

    // DROP TABLE removes the view, registry entry, and files
    val loc = e.table("ev_ddl").location
    assert(e.sql("DROP TABLE ev_ddl").head.getString(0) == "ev_ddl")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(loc)))
    assert(e.sql("DROP TABLE IF EXISTS ev_ddl").isEmpty)
    intercept[IllegalArgumentException] { e.sql("DROP TABLE ev_ddl") }
  }

  test("time travel + property DDL through SQL") {
    val e = LakeEngine(spark)
    val src = Tables.df(spark, sf, "region")
    e.createTableAsSelect("r_tt", LakeEngine.tempLocation("tt"), src)
    val snapBefore = e.table("r_tt").meta.currentSnapshotId
    e.sql("DELETE FROM r_tt WHERE r_regionkey < 2")
    assert(e.sql("SELECT count(*) FROM r_tt").head.getLong(0) == 3L)
    // lake_at reads the pre-delete snapshot
    assert(e.sql(s"SELECT * FROM lake_at('r_tt', $snapBefore)").count() == 5)

    // pruning observability: a selective filter over the indexed view
    // reports scanned/skipped file counts (reference EXPLAIN's
    // "Data Files Scanned/Skipped"). Two appends = two files with
    // disjoint key ranges, so the filter skips one.
    e.sql("INSERT INTO r_tt SELECT r_regionkey + 100, r_name FROM r_tt")
    e.sql("SELECT * FROM r_tt WHERE r_regionkey >= 100").collect()
    val rep = e.sql("SELECT * FROM lake_scan_report('r_tt')").head
    assert(rep.getInt(0) >= 1, "the matching file must be scanned")
    assert(rep.getInt(1) >= 1, s"expected a skipped file: $rep")

    // changelog between the pre-delete and post-delete snapshots
    val snapAfter = e.table("r_tt").meta.currentSnapshotId
    val ch = e.sql(s"SELECT * FROM lake_changes('r_tt', $snapBefore, " +
      s"$snapAfter)")
    assert(ch.filter(col("_change_type") === "delete").count() >= 2,
      "deleted rows must appear in the changelog")

    // ALTER TABLE SET (k 'v') lands in table properties atomically
    assert(e.sql("ALTER TABLE r_tt SET (out_of_range_values 'clamp')")
      .head.getString(0) == "out_of_range_values=clamp")
    assert(e.table("r_tt").meta.properties("out_of_range_values") == "clamp")
    // and the existing PARTITIONED BY form still routes separately
    assert(e.sql("ALTER TABLE r_tt SET PARTITIONED BY (r_regionkey)")
      .head.getString(0) == "r_regionkey")
  }

  test("COPY SQL verbs: TO with options, query source, FROM roundtrip") {
    val e = LakeEngine(spark)
    val src = Tables.df(spark, sf, "region")
    e.createTableAsSelect("r_copy", LakeEngine.tempLocation("rcopy"), src)

    // COPY table TO csv.gz with PG-style options
    val out = LakeEngine.tempLocation("out") + ".csv.gz"
    val exp = e.sql(s"COPY r_copy TO '$out' WITH (header true, delimiter '|')")
    assert(exp.head.getLong(0) == 5L)
    val back = e.createLakeTable("r_back", out, format = Some("csv"),
      options = Map("delimiter" -> "|", "header" -> "true"))
    assert(back.count() == 5)

    // COPY (query) TO parquet — deeply nested parens in the query
    val out2 = LakeEngine.tempLocation("out2") + ".parquet"
    val exp2 = e.sql(
      s"COPY (SELECT r_regionkey, round(abs(cast(r_regionkey AS DOUBLE)), 2)" +
        s" AS k FROM r_copy WHERE r_regionkey < 3) TO '$out2'")
    assert(exp2.head.getLong(0) == 3L)
    assert(spark.read.parquet(out2).count() == 3)

    // COPY table FROM appends
    val imp = e.sql(s"COPY r_copy FROM '$out' WITH (header true, delimiter '|')")
    assert(imp.head.getLong(0) == 5L)
    assert(e.table("r_copy").read().count() == 10)
  }

  test("explicit-schema CREATE TABLE + ADD COLUMN DEFAULT (initial-default)") {
    val e = LakeEngine(spark)
    e.sql("CREATE TABLE t_cols (id bigint, price numeric(10,2), " +
      "label text) USING iceberg")
    assert(e.sql("INSERT INTO t_cols VALUES (1, 9.99, 'a'), (2, 1.50, 'b')")
      .head.getLong(0) == 2)

    // metadata-only ADD COLUMN with DEFAULT: pre-existing rows read the
    // default without any file rewrite; later writes carry real values
    val filesBefore = e.table("t_cols").meta.currentSnapshot.get.files.size
    e.sql("ALTER TABLE t_cols ADD COLUMN grade text DEFAULT 'unrated'")
    assert(e.table("t_cols").meta.currentSnapshot.get.files.size
      == filesBefore, "ADD COLUMN DEFAULT must not rewrite files")
    assert(e.sql("SELECT grade FROM t_cols WHERE id = 1")
      .head.getString(0) == "unrated")
    e.sql("INSERT INTO t_cols VALUES (3, 0.10, 'c', 'good')")
    assert(e.sql("SELECT grade FROM t_cols WHERE id = 3")
      .head.getString(0) == "good")
    assert(e.sql("SELECT count(*) FROM t_cols WHERE grade = 'unrated'")
      .head.getLong(0) == 2)
  }

  test("create table as select via SQL text, with hidden partitioning") {
    val e = LakeEngine(spark)
    Tables.registerAll(spark, sf)
    val n = e.sql("CREATE TABLE ev_ctas PARTITIONED BY (day(ts)) " +
      "AS SELECT * FROM events").head.getLong(0)
    assert(n == Tables.df(spark, sf, "events").count())
    assert(e.table("ev_ctas").meta.partitionSpec == Seq("day(ts)"))
    // registered + queryable + pruned through the FileIndex
    assert(e.sql("SELECT count(*) FROM ev_ctas").head.getLong(0) == n)
    val (kept, total) = e.table("ev_ctas").pruneStats(
      col("ts") >= lit("2024-01-20 00:00:00").cast("timestamp_ntz"))
    assert(total >= 1 && kept <= total)
  }

  test("INSERT ... SELECT scans its source exactly once") {
    val e = LakeEngine(spark)
    val src = Tables.df(spark, sf, "region")
    e.createTableAsSelect("r_once", LakeEngine.tempLocation("once"), src)

    // per-row accumulator on the INSERT source: a count()+append would
    // run the SELECT twice and double it
    val seen = spark.sparkContext.longAccumulator("rows_seen")
    spark.createDataFrame(
        src.rdd.map { r => seen.add(1); r }, src.schema)
      .createOrReplaceTempView("r_once_src")

    val n = e.sql("INSERT INTO r_once SELECT * FROM r_once_src")
      .head.getLong(0)
    assert(n == src.count())
    assert(seen.value == src.count(),
      s"source scanned ${seen.value} rows for ${src.count()}-row insert")
    assert(e.sql("SELECT count(*) FROM r_once").head.getLong(0)
      == 2 * src.count())
  }

  test("csv option matrix: delimiter, no-header, quotes, gzip") {
    val e = LakeEngine(spark)
    val dir = java.nio.file.Files.createTempDirectory("csvopt")
    java.nio.file.Files.write(dir.resolve("data.csv"),
      "id;name\n1;\"a;b\"\n2;plain\n".getBytes)
    val withHeader = e.createLakeTable("csv_h", dir.toString + "/data.csv",
      format = Some("csv"), options = Map("sep" -> ";", "header" -> "true"))
    assert(withHeader.columns.toSeq == Seq("id", "name"))
    assert(withHeader.filter(col("name") === "a;b").count() == 1)

    val noHeader = e.createLakeTable("csv_n", dir.toString + "/data.csv",
      format = Some("csv"),
      options = Map("sep" -> ";", "header" -> "false", "inferSchema" -> "false"))
    assert(noHeader.count() == 3) // header row becomes data

    // gzip roundtrip through COPY
    val out = LakeEngine.tempLocation("csvgz") + ".csv.gz"
    e.copyTo(Tables.df(spark, sf, "nation"), out)
    val back = e.createLakeTable("csv_gz", out, format = Some("csv"))
    assert(back.count() == 25)
  }

  test("DML RETURNING: inserted rows, new update values, deleted rows") {
    val e = LakeEngine(spark)
    val src = Tables.df(spark, sf, "region")
    e.createTableAsSelect("r_ret", LakeEngine.tempLocation("ret"), src)

    // INSERT ... RETURNING projects the inserted rows
    val ins = e.sql(
      "INSERT INTO r_ret VALUES (77, 'LEMURIA') RETURNING r_name, r_regionkey * 2")
      .collect()
    assert(ins.length == 1 && ins.head.getString(0) == "LEMURIA" &&
      ins.head.getInt(1) == 154)

    // UPDATE ... RETURNING sees the NEW values (reference shape:
    // test_writable_table_update.py "RETURNING age" after SET age=31)
    val upd = e.sql("UPDATE r_ret SET r_name = concat(r_name, '?') " +
      "WHERE r_regionkey = 77 RETURNING r_name AS new_name").collect()
    assert(upd.map(_.getString(0)).toSeq == Seq("LEMURIA?"))
    assert(e.sql("SELECT r_name FROM r_ret WHERE r_regionkey = 77")
      .head.getString(0) == "LEMURIA?")

    // DELETE ... RETURNING projects the removed rows
    val del = e.sql("DELETE FROM r_ret WHERE r_regionkey = 77 RETURNING *")
      .collect()
    assert(del.length == 1 && del.head.getString(1) == "LEMURIA?")
    assert(e.sql("SELECT count(*) FROM r_ret").head.getLong(0) == src.count())

    // no RETURNING → unchanged count surface
    assert(e.sql("DELETE FROM r_ret WHERE r_regionkey = -1")
      .head.getLong(0) == 0)
  }

  test("RETURNING survives the dialect rewrites (regex/SIMILAR TO WHERE)") {
    // The text rewrites run on the whole DML statement before the
    // RETURNING split; their forward operand scans must stop at the
    // RETURNING keyword instead of swallowing it into the pattern.
    val e = LakeEngine(spark)
    e.createTableAsSelect("r_rrx", LakeEngine.tempLocation("rrx"),
      spark.range(4).selectExpr("id",
        "CASE WHEN id = 2 THEN 'fatal error' ELSE concat('ok ', id) END AS msg"))
    val del = e.sql("DELETE FROM r_rrx WHERE msg ~ 'err' RETURNING id")
      .collect()
    assert(del.map(_.getLong(0)).toSeq == Seq(2L))
    val upd = e.sql("UPDATE r_rrx SET msg = 'seen' " +
      "WHERE msg SIMILAR TO 'ok (0|1)' RETURNING id").collect()
    assert(upd.map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
    assert(e.sql("SELECT count(*) FROM r_rrx WHERE msg = 'seen'")
      .head.getLong(0) == 2)
  }

  test("DML literal safety and dialect inside DML") {
    val e = LakeEngine(spark)
    e.createTableAsSelect("r_lit", LakeEngine.tempLocation("lit"),
      spark.range(3).selectExpr("id", "concat('msg returning ', id) AS msg"))
    // the word "returning" inside a literal must NOT split the clause
    assert(e.sql("DELETE FROM r_lit WHERE msg LIKE '%returning 2%'")
      .head.getLong(0) == 1)
    // case-insensitive SET target resolution
    assert(e.sql("UPDATE r_lit SET MSG = 'x' WHERE id = 0 RETURNING msg")
      .head.getString(0) == "x")
    assert(e.sql("SELECT msg FROM r_lit WHERE id = 0").head.getString(0)
      == "x")
    // PG dialect constructs work inside DML texts: quantified array
    // in WHERE, ARRAY literal + regex op in INSERT source
    assert(e.sql("DELETE FROM r_lit WHERE id = any(ARRAY[1])")
      .head.getLong(0) == 1)
    assert(e.sql("""INSERT INTO r_lit SELECT 9, CASE WHEN 'ab1' ~ '[0-9]'
      THEN 'digit' ELSE 'no' END""").head.getLong(0) == 1)
    assert(e.sql("SELECT msg FROM r_lit WHERE id = 9").head.getString(0)
      == "digit")
  }

  test("commas, '=' and WHERE inside literals never split a DML clause") {
    val e = LakeEngine(spark)
    e.createTableAsSelect("r_split", LakeEngine.tempLocation("split"),
      spark.range(1, 4).selectExpr("id", "concat('s', id) AS s",
        "concat('t', id) AS t"))
    def rows = e.sql("SELECT id, s, t FROM r_split ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(e.sql("UPDATE r_split SET s = 'a,b' WHERE id = 1")
      .head.getLong(0) == 1)
    assert(rows == Seq((1L, "a,b", "t1"), (2L, "s2", "t2"), (3L, "s3", "t3")))
    assert(e.sql("UPDATE r_split SET s = 'x where id = 2' WHERE id = 1")
      .head.getLong(0) == 1)
    assert(rows == Seq((1L, "x where id = 2", "t1"), (2L, "s2", "t2"),
      (3L, "s3", "t3")))
    assert(e.sql("UPDATE r_split SET s = 'p=q, r', t = 'x' WHERE id = 3")
      .head.getLong(0) == 1)
    assert(rows == Seq((1L, "x where id = 2", "t1"), (2L, "s2", "t2"),
      (3L, "p=q, r", "x")))
    val del = e.sql("DELETE FROM r_split WHERE id = 2 RETURNING id, ',' AS sep")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(del == Seq((2L, ",")))
    assert(rows == Seq((1L, "x where id = 2", "t1"), (3L, "p=q, r", "x")))
    // nor a column definition list
    e.sql("CREATE TABLE r_split_def (id int, s text DEFAULT 'x, y')")
    e.sql("INSERT INTO r_split_def (id) VALUES (1)")
    assert(e.sql("SELECT s FROM r_split_def").head.getString(0) == "x, y")
  }

  test("UPDATE assignments all read the OLD row (PG swap semantics)") {
    val e = LakeEngine(spark)
    e.createTableAsSelect("r_swap", LakeEngine.tempLocation("swap"),
      spark.range(1).selectExpr("1L AS a", "2L AS b"))
    val ret = e.sql(
      "UPDATE r_swap SET a = b, b = a RETURNING a, b").collect()
    assert(ret.head.getLong(0) == 2 && ret.head.getLong(1) == 1,
      "swap must use old values for both assignments")
    val row = e.sql("SELECT a, b FROM r_swap").head
    assert(row.getLong(0) == 2 && row.getLong(1) == 1)
  }

  test("column-list INSERT: in order, reordered and subset, SELECT and VALUES") {
    val e = LakeEngine(spark)
    e.sql("CREATE TABLE ins_cols (id bigint, v int DEFAULT 7, r boolean)")
    def rows = e.sql("SELECT id, v, r FROM ins_cols ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(e.sql("INSERT INTO ins_cols (id, v, r) SELECT 1, 3, false")
      .head.getLong(0) == 1)
    assert(e.sql("INSERT INTO ins_cols (r, id, v) VALUES (true, 2, 4)")
      .head.getLong(0) == 1)
    assert(e.sql("INSERT INTO ins_cols (id, r) SELECT 3, true").head
      .getLong(0) == 1)
    assert(e.sql("INSERT INTO ins_cols(v, id) VALUES (5, 4), (6, 5)").head
      .getLong(0) == 2)
    assert(rows == Seq(
      (1L, Some(3), Some(false)), (2L, Some(4), Some(true)),
      (3L, Some(7), Some(true)), (4L, Some(5), None), (5L, Some(6), None)))
    // a parenthesized source is still a query, not a column list
    assert(e.sql("INSERT INTO ins_cols (SELECT 6, 1, true)").head
      .getLong(0) == 1)
    val unknown = intercept[IllegalArgumentException](
      e.sql("INSERT INTO ins_cols (id, x) SELECT 7, 1"))
    assert(unknown.getMessage ==
      "column \"x\" of relation \"ins_cols\" does not exist")
    val short = intercept[IllegalArgumentException](
      e.sql("INSERT INTO ins_cols (id, v) SELECT 7"))
    assert(short.getMessage.contains("more target columns than expressions"))
    e.dropTable("ins_cols")
  }

  test("INSERT wider than its table is refused, SELECT and VALUES") {
    val e = LakeEngine(spark)
    e.sql("CREATE TABLE ins_wide (id bigint, v int)")
    for (stmt <- Seq("INSERT INTO ins_wide SELECT 1 AS id, 2 AS v, 3 AS extra",
        "INSERT INTO ins_wide VALUES (1, 2, 3)")) {
      val err = intercept[IllegalArgumentException](e.sql(stmt))
      assert(err.getMessage.contains(
        "INSERT has more expressions than target columns"), stmt)
    }
    assert(e.sql("SELECT count(*) FROM ins_wide").head.getLong(0) == 0L)
    e.dropTable("ins_wide")
  }

  test("scanReport after FROM ONLY names the files that query pruned") {
    val e = LakeEngine(spark)
    e.sql("CREATE TABLE only_rep (k bigint, v string)")
    e.sql("INSERT INTO only_rep VALUES (1, 'a'), (2, 'b')")
    e.sql("INSERT INTO only_rep VALUES (101, 'c'), (102, 'd')")
    assert(e.sql("SELECT * FROM ONLY only_rep WHERE k >= 100").count() == 2)
    val rep = e.sql("SELECT * FROM lake_scan_report('only_rep')").head
    val (kept, total) = e.table("only_rep").pruneStats(col("k") >= 100)
    assert(kept >= 1 && kept < total)
    assert((rep.getInt(0), rep.getInt(1)) == (kept, total - kept), rep)
    e.dropTable("only_rep")
  }
}
