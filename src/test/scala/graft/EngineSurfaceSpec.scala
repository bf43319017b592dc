package graft

import graft.lake.LakeTable
import graft.streaming.LakeSink
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Facade-level operator tests: log scan, out-of-range write policy,
  * and streaming ingest into managed tables.
  */
class EngineSurfaceSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("s3 access log scan parses fields; bad lines give nulls") {
    val e = LakeEngine(spark)
    val dir = Files.createTempDirectory("logscan")
    val line = "79a5 mybucket [06/Feb/2019:00:00:38 +0000] 192.0.2.3 " +
      "arn:aws:iam::123:user/x 3E57427F3EXAMPLE REST.GET.VERSIONING " +
      "mykey \"GET /mybucket?versioning HTTP/1.1\" 200 - - 113 7 - " +
      "\"-\" \"S3Console/0.4\""
    Files.write(dir.resolve("access.log"),
      (line + "\nnot a log line\n").getBytes)
    val df = e.createLakeTable("s3log", dir.toString + "/*.log",
      format = Some("log"), options = Map("log_format" -> "s3"))
    val ok = df.filter(col("bucket") === "mybucket").collect()
    assert(ok.length == 1)
    val r = ok.head
    assert(r.getAs[String]("operation") == "REST.GET.VERSIONING")
    assert(r.getAs[Int]("http_status") == 200)
    assert(r.getAs[Any]("bytes_sent") == null) // "-" → null
    assert(r.getAs[Long]("object_size") == 113L)
    assert(r.getAs[String]("user_agent") == "S3Console/0.4")
    // unparseable line survives with null fields
    assert(df.count() == 2)
    assert(df.filter(col("bucket").isNull).count() == 1)
  }

  test("out_of_range_values: error rejects, clamp truncates to boundary") {
    import java.time.LocalDateTime
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampNTZType)))
    val rows = java.util.Arrays.asList(
      Row(1L, LocalDateTime.of(2024, 1, 1, 0, 0)),
      Row(2L, LocalDateTime.of(0, 6, 1, 0, 0))) // year 0 < min
    val df = spark.createDataFrame(rows, schema)

    val errT = LakeTable.create(spark, LakeEngine.tempLocation("oorE"),
      "oor_err", schema)
    val ex = intercept[Exception](errT.append(df))
    assert(ex.getMessage.contains("out of range") ||
      Option(ex.getCause).exists(_.getMessage.contains("out of range")))

    val clampT = LakeTable.create(spark, LakeEngine.tempLocation("oorC"),
      "oor_clamp", schema, properties = Map("out_of_range_values" -> "clamp"))
    clampT.append(df)
    val got = clampT.read().orderBy("id").collect()
    assert(got(0).getAs[LocalDateTime]("ts") == LocalDateTime.of(2024, 1, 1, 0, 0))
    assert(got(1).getAs[LocalDateTime]("ts") == LocalDateTime.of(1, 1, 1, 0, 0),
      s"clamped to lower bound, got ${got(1)}")
  }

  test("interval columns store as struct(months,days,microseconds)") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, make_interval(0, 2, 0, 3, 4, 0, 0)),
        |  (2L, make_interval(1, 0, 2, 0, 0, 30, 1.5)),
        |  (3L, CAST(NULL AS INTERVAL))
        |AS t(id, dur)""".stripMargin)
    val t = LakeTable.createAsSelect(spark, LakeEngine.tempLocation("iv"),
      "iv", df)
    val back = t.read().orderBy("id")
    assert(back.schema("dur").dataType ==
      org.apache.spark.sql.types.CalendarIntervalType)
    assert(back.collect().map(_.toString).toSeq ==
      df.orderBy("id").collect().map(_.toString).toSeq)
    // physical file really holds the struct
    val file = t.meta.currentSnapshot.get.files.head.path
    val raw = spark.read.parquet(file)
    assert(raw.schema("dur").dataType ==
      graft.lake.IntervalStorage.physicalType)
    // copy-on-write delete over interval table
    t.delete(col("id") === 2L)
    assert(t.read().count() == 2)
  }

  test("streaming append: micro-batches become snapshots") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val mem = MemoryStream[(Long, String)]
    val t = LakeTable.create(spark, LakeEngine.tempLocation("stream"),
      "ev_stream", StructType(Seq(
        StructField("id", LongType), StructField("v", StringType))))

    mem.addData((1L, "a"), (2L, "b"))
    val q1 = LakeSink.append(mem.toDF().toDF("id", "v"), t,
      Files.createTempDirectory("ckpt").toString)
    q1.awaitTermination()
    assert(t.read().count() == 2)

    mem.addData((3L, "c"))
    val q2 = LakeSink.append(mem.toDF().toDF("id", "v"), t,
      Files.createTempDirectory("ckpt2").toString)
    q2.awaitTermination()
    // second checkpoint replays from scratch: 2 + 3
    assert(t.read().count() == 5)
    assert(t.meta.snapshots.count(_.operation == "append") >= 2)
  }

  test("streaming replayed batch is idempotent (exactly-once commit)") {
    import spark.implicits._
    val t = LakeTable.create(spark, LakeEngine.tempLocation("eo"),
      "eo", StructType(Seq(StructField("id", LongType))))
    val batch = Seq(1L, 2L, 3L).toDF("id")
    LakeSink.processBatch(t, "s1")(batch, 0L)
    assert(t.read().count() == 3)
    // replay of the SAME batch id (post-crash, pre-checkpoint) is a no-op
    LakeSink.processBatch(t, "s1")(batch, 0L)
    assert(t.read().count() == 3)
    // the next batch commits
    LakeSink.processBatch(t, "s1")(Seq(4L).toDF("id"), 1L)
    assert(t.read().count() == 4)
    // a DIFFERENT stream into the same table is tracked independently
    LakeSink.processBatch(t, "s2")(Seq(5L).toDF("id"), 0L)
    assert(t.read().count() == 5)
  }

  test("streaming windowed aggregate upserts window rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute").getField("start").as("w_start"))
      .agg(sum("value").as("total"), count(lit(1)).as("n"))

    val t = LakeTable.create(spark, LakeEngine.tempLocation("streamw"),
      "ev_win", StructType(Seq(
        StructField("w_start", TimestampType),
        StructField("total", DoubleType), StructField("n", LongType))))

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((ts("2024-01-01 10:00:10"), 1.0),
      (ts("2024-01-01 10:00:40"), 2.0), (ts("2024-01-01 10:01:10"), 5.0))
    val q = LakeSink.appendWindowed(agg, t,
      Files.createTempDirectory("ckptw").toString, Seq("w_start"))
    q.awaitTermination()

    val rows = t.read().orderBy("w_start").collect()
    assert(rows.length == 2, rows.mkString(";"))
    assert(rows(0).getAs[Double]("total") == 3.0)
    assert(rows(1).getAs[Double]("total") == 5.0)
  }

  test("windowed upsert above the key cap takes the distributed merge path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute").getField("start").as("w_start"))
      .agg(sum("value").as("total"), count(lit(1)).as("n"))

    val t = LakeTable.create(spark, LakeEngine.tempLocation("streamm"),
      "ev_merge", StructType(Seq(
        StructField("w_start", TimestampType),
        StructField("total", DoubleType), StructField("n", LongType))))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    // batch 1 under the cap seeds two windows; batch 2 updates one of
    // them plus a new window with maxPredicateKeys=1 → over cap →
    // anti-join + replace; the untouched window must survive the merge
    mem.addData((ts("2024-01-01 10:00:10"), 1.0),
      (ts("2024-01-01 10:01:10"), 5.0))
    val ckpt = Files.createTempDirectory("ckptm").toString
    LakeSink.appendWindowed(agg, t, ckpt, Seq("w_start"))
      .awaitTermination()
    mem.addData((ts("2024-01-01 10:01:20"), 2.0),
      (ts("2024-01-01 10:02:30"), 7.0))
    LakeSink.appendWindowed(agg, t, ckpt, Seq("w_start"),
        maxPredicateKeys = 1)
      .awaitTermination()

    val rows = t.read().orderBy("w_start").collect()
    assert(rows.length == 3, rows.mkString(";"))
    assert(rows(0).getAs[Double]("total") == 1.0) // untouched survives
    assert(rows(1).getAs[Double]("total") == 7.0) // updated 5.0 + 2.0
    assert(rows(2).getAs[Double]("total") == 7.0) // new window
    // the merge committed ONE atomic replace snapshot, not truncate+append
    assert(t.meta.snapshots.exists(_.operation == "replace"))
  }

  test("lake_file.preview: column name/type rows, wildcard, guards") {
    val e = LakeEngine(spark)
    val dir = Files.createTempDirectory("preview")
    // parquet with scalar, array, struct columns
    spark.sql("""SELECT 1 AS a, '' AS b, array(1,2,3) AS arr,
      named_struct('x', 1, 'y', 2) AS st""")
      .write.parquet(dir.resolve("a").toString)
    val res = e.sql(
      s"SELECT * FROM lake_file.preview('${dir.resolve("a")}/*.parquet')")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(res("a") == "integer")
    assert(res("b") == "text")
    assert(res("arr") == "integer[]")
    assert(res("st").startsWith("lake_struct.x_y_"))
    // csv: sniffed header + inferred types
    Files.write(dir.resolve("c.csv"), "a,b\n1,x\n2,y\n".getBytes)
    val csv = e.preview(dir.resolve("c.csv").toString)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(csv == Map("a" -> "integer", "b" -> "text"))
    // unsupported scheme and unknown format are refused loudly
    val e1 = intercept[IllegalArgumentException] {
      e.preview("wonka://bucket/x.parquet")
    }
    assert(e1.getMessage.contains("unsupported URL"))
    val e2 = intercept[IllegalArgumentException] {
      e.preview(dir.resolve("c.csv").toString, Some("wonka"))
    }
    assert(e2.getMessage.contains("not recognized"))
  }
}
