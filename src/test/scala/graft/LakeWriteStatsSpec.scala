package graft

import graft.lake._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The stats every lake write reports while it writes must equal, byte
  * for byte, what a read-back aggregation over the written files yields
  * (`readBack` below is that aggregation, the way file stats were
  * collected before writes reported them): every column type, NaN and
  * -0.0, all-null columns, long strings, decimals, timestamps in a
  * non-UTC session time zone, intervals, and partitioned, hash-bucketed
  * and row-count-split files.
  */
class LakeWriteStatsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def freshLoc() = LakeEngine.tempLocation("writestats")

  /** 240 rows of every storable type. Row order matters for -0.0 vs 0.0
    * (the first of equal values is kept), so both orders occur.
    */
  private def typed(n: Int = 240): DataFrame = spark.range(n).selectExpr(
    "CAST(id % 120 - 60 AS TINYINT) AS ti",
    "CAST(id * 7 % 1000 - 500 AS SMALLINT) AS si",
    "CAST(id * 31 % 997 AS INT) AS i",
    "CASE WHEN id % 11 = 0 THEN NULL ELSE id * 1000003 - 120000000 END AS bi",
    "CAST(CASE id % 6 WHEN 0 THEN 'NaN' WHEN 1 THEN '-0.0' WHEN 2 THEN '0.0'" +
      " WHEN 3 THEN 'Infinity' ELSE CAST(id / 3.0 AS STRING) END AS FLOAT) AS f",
    "CAST(CASE id % 7 WHEN 0 THEN '0.0' WHEN 1 THEN '-0.0' WHEN 2 THEN 'NaN'" +
      " WHEN 3 THEN '-Infinity' ELSE CAST(id * 1.5e10 AS STRING) END AS DOUBLE) AS d",
    "CASE WHEN id % 5 = 0 THEN -0.0D WHEN id % 5 = 1 THEN 0.0D ELSE id - 100.25D END AS dz",
    "CAST(id * 12.34 - 999 AS DECIMAL(10,2)) AS dec",
    "CAST(id * 123456789.0123456789 AS DECIMAL(38,10)) AS dec38",
    "CASE WHEN id % 9 = 0 THEN repeat(concat('z', CAST(id AS STRING)), 700)" +
      " ELSE concat('s', CAST(id * 13 % 101 AS STRING), 'é') END AS s",
    "CAST(NULL AS STRING) AS all_null_s",
    "CAST(NULL AS INT) AS all_null_i",
    "id % 3 = 0 AS b",
    "date_add(DATE'1970-01-01', CAST(id * 97 - 9000 AS INT)) AS dt",
    "timestamp_seconds(id * 3600 * 37 - 86400 * 4000) AS ts",
    "CAST(timestamp_seconds(id * 5400 + 1700000000) AS TIMESTAMP_NTZ) AS ntz",
    "CASE WHEN id = 0 THEN TIMESTAMP'0001-01-01 00:00:00' ELSE" +
      " timestamp_seconds(id) END AS ts_edge",
    "CAST(hex(CAST(id AS STRING)) AS BINARY) AS bin",
    "array(CAST(id AS DOUBLE), CAST(NULL AS DOUBLE)) AS arr",
    "map('k', CAST(id AS INT)) AS mp",
    "named_struct('a', CAST(id AS INT), 'b', CAST(id AS STRING)) AS st",
    "make_interval(0, CAST(id % 13 AS INT), 0, CAST(id % 5 AS INT), 0, 0, 0) AS iv",
    "make_ym_interval(CAST(id % 4 AS INT), CAST(id % 11 AS INT)) AS ym",
    "make_dt_interval(CAST(id % 3 AS INT), CAST(id % 24 AS INT), 0, 0) AS dti")

  /** The read-back oracle: one groupBy(file) aggregation over the
    * table's current data files, rendered with Spark's cast to string.
    */
  private def readBack(t: LakeTable): Map[String, FileEntry] = {
    val m = t.meta
    val files = m.currentSnapshot.get.dataFiles
    val cur = m.currentSchema
    val schema = TableMetadata.physicalStruct(cur)
    def statable(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType | _: BinaryType => false
      case CalendarIntervalType => false
      case _ => true
    }
    val fieldAggs = cur.fields.flatMap { f =>
      val base = Seq(sum(when(col(f.name).isNull, 1L).otherwise(0L))
        .as(s"nulls_${f.id}"))
      if (statable(DataType.fromDDL(f.dataType))) base ++ Seq(
        min(col(f.name)).cast("string").as(s"min_${f.id}"),
        max(col(f.name)).cast("string").as(s"max_${f.id}"))
      else base
    }
    val partAggs = m.transforms.flatMap { t =>
      val e = t.expr(col(t.column), schema(t.column).dataType)
      Seq(min(e).cast("string").as(s"pmin_${t.valueName}"),
        max(e).cast("string").as(s"pmax_${t.valueName}"))
    }
    val aggs = Seq(count(lit(1L)).as("__rows")) ++ fieldAggs ++ partAggs
    val rows = spark.read.schema(schema).parquet(files.map(_.path): _*)
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val byPath = rows.map(r =>
      new java.net.URI(r.getAs[String]("__file")).getPath -> r).toMap
    files.map { f =>
      val r = byPath(LakeFs.pathKey(f.path))
      def s(c: String): Option[String] =
        if (r.schema.fieldNames.contains(c)) Option(r.getAs[String](c))
        else None
      f.path -> FileEntry(f.path, r.getAs[Long]("__rows"), f.bytes,
        cur.version,
        cur.fields.map(fd => fd.id.toString -> ColStats(s(s"min_${fd.id}"),
          s(s"max_${fd.id}"), r.getAs[Long](s"nulls_${fd.id}"))).toMap,
        m.transforms.map(t => t.valueName -> ColStats(
          s(s"pmin_${t.valueName}"), s(s"pmax_${t.valueName}"), 0L)).toMap)
    }.toMap
  }

  private def assertSameStats(t: LakeTable, minFiles: Int): Unit = {
    val written = t.meta.currentSnapshot.get.dataFiles
    assert(written.size >= minFiles, s"only ${written.size} files")
    val oracle = readBack(t)
    written.foreach { f =>
      val o = oracle(f.path)
      assert(f.rows == o.rows, f.path)
      assert(f.fieldStats == o.fieldStats, f.path)
      assert(f.partStats == o.partStats, f.path)
    }
  }

  private def withTimeZone[A](tz: String)(body: => A): A = {
    val before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try body finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("unpartitioned files: every type, NaN, -0.0, nulls, session time zone") {
    withTimeZone("America/Los_Angeles") {
      val t = LakeTable.createAsSelect(spark, freshLoc(), "ws_plain",
        typed().repartition(3))
      assertSameStats(t, 3)
      // the cases the oracle must actually see
      val d = t.meta.currentSchema.fields.find(_.name == "d").get.id.toString
      assert(t.meta.currentSnapshot.get.dataFiles
        .exists(_.fieldStats(d).max.contains("NaN")))
      val nullId = t.meta.currentSchema.fields
        .find(_.name == "all_null_s").get.id.toString
      assert(t.meta.currentSnapshot.get.dataFiles.forall(f =>
        f.fieldStats(nullId) == ColStats(None, None, f.rows)))
    }
  }

  test("files split by row count (maxRecordsPerFile)") {
    val t = LakeTable.createAsSelect(spark, freshLoc(), "ws_split",
      typed().coalesce(1), targetFiles = Some(5))
    assertSameStats(t, 5)
  }

  test("partitioned files: every transform, evaluated per row") {
    withTimeZone("Asia/Kolkata") {
      val t = LakeTable.createAsSelect(spark, freshLoc(), "ws_part",
        typed(), partitionSpec = Seq("year(dt)", "month(ntz)", "day(ts)",
          "hour(ts)", "hour(dt)", "bucket(4, i)", "truncate(3, s)",
          "truncate(1000, bi)", "identity(b)", "identity(dz)"),
        targetFiles = Some(6))
      assertSameStats(t, 2)
      assert(t.meta.currentSnapshot.get.dataFiles
        .exists(_.partStats.contains("dz__identity")))
    }
  }

  test("partitioned files written in one pass (rows bounded, no count)") {
    withTimeZone("Asia/Kolkata") {
      val t = LakeTable.createAsSelect(spark, freshLoc(), "ws_part1",
        typed(), partitionSpec = Seq("day(ts)", "hour(dt)", "bucket(4, i)",
          "truncate(3, s)", "identity(dz)"))
      assertSameStats(t, 2)
    }
  }

  test("hash-bucketed files (fanout over the cap)") {
    val t = LakeTable.createAsSelect(spark, freshLoc(), "ws_hash", typed(),
      partitionSpec = Seq("identity(i)", "day(ts)"), targetFiles = Some(3),
      properties = Map("write.max-partition-fanout" -> "1"))
    assertSameStats(t, 2)
    // hash buckets reuse part-file basenames across __bucket=N dirs
    assert(t.meta.currentSnapshot.get.dataFiles.forall(
      _.path.contains("__bucket=")))
  }

  test("an empty write commits no file") {
    val t = LakeTable.createAsSelect(spark, freshLoc(), "ws_empty",
      typed().limit(0))
    assert(t.meta.currentSnapshot.get.dataFiles.isEmpty)
    t.append(typed(10).limit(0))
    assert(t.read().count() == 0)
  }

  test("delete-file entries carry their rows per target; data entries omit it") {
    val t = LakeTable.createAsSelect(spark, freshLoc(), "ws_del",
      spark.range(300).selectExpr("id", "id % 3 AS g").repartition(3))
    assert(t.delete(col("id").isin(1, 2, 150, 299)) == 4)
    val dels = t.meta.currentSnapshot.get.deleteFiles
    assert(dels.nonEmpty)
    dels.foreach { d =>
      val counted = spark.read.parquet(d.path).groupBy("file_path").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(d.targetRows.contains(counted), d.path)
      assert(counted.values.sum == d.rows)
    }
    // the counts survive a JSON round trip as longs (a fresh process
    // reads them from the manifests)
    val back = TableMetadata.deserialize(TableMetadata.serialize(t.meta))
      .currentSnapshot.get.deleteFiles
    assert(back.map(_.targetRows.get.values.map(n => n: Long).sum) ==
      dels.map(_.rows))
    // data entries carry no per-target field in the manifest JSON
    val metaDir = TableMetadata.metaDir(t.location)
    val manifests = LakeFs.listNames(metaDir).filter(_.startsWith("manifest-"))
    val json = manifests.map(n => new String(LakeFs.readAllBytes(
      LakeFs.child(metaDir, n)), "UTF-8")).mkString
    assert(json.contains("deleteTargetRows"))
    assert(json.split("\"content\"").length - 1 >
      json.split("deleteTargetRows").length - 1)
  }
}
