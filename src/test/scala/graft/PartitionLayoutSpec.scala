package graft

import graft.lake._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** A partitioned write lands every partition tuple in exactly one file,
  * and that file's partition stats have min equal to max — on the
  * one-pass path (the plan bounds the rows within the fan-out cap, so
  * no tuple count runs first) and on the counted path (a file source
  * has no bound).
  */
class PartitionLayoutSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def freshLoc() = LakeEngine.tempLocation("layout")

  /** 48 rows: NULL in every column, timestamps over several days and
    * hours, dates, 0.0 / -0.0 / NaN doubles, and strings with the
    * characters a partition path would have to escape.
    */
  private def rows: DataFrame = spark.range(48).selectExpr(
    "CASE WHEN id % 12 = 0 THEN NULL" +
      " ELSE timestamp_seconds(1700000000 + id * 5000) END AS ts",
    "CASE WHEN id % 12 = 1 THEN NULL" +
      " ELSE date_add(DATE'2024-02-27', CAST(id % 5 AS INT)) END AS d",
    "CASE WHEN id % 12 = 2 THEN NULL ELSE CAST(id * 7 % 13 AS INT) END AS i",
    "CASE id % 6 WHEN 0 THEN 0.0D WHEN 1 THEN -0.0D" +
      " WHEN 2 THEN CAST('NaN' AS DOUBLE) WHEN 3 THEN NULL" +
      " ELSE CAST(id % 4 AS DOUBLE) END AS x",
    "CASE id % 7 WHEN 0 THEN 'a/b' WHEN 1 THEN '50%' WHEN 2 THEN 'k=v'" +
      " WHEN 3 THEN 'with space' WHEN 4 THEN NULL WHEN 5 THEN 'a/b=c %d'" +
      " ELSE concat('s', CAST(id % 3 AS STRING)) END AS s")

  private val specs = Seq("day(ts)", "hour(ts)", "day(d)", "hour(d)",
    "bucket(4, i)", "truncate(2, s)", "identity(x)", "identity(s)")

  /** Names of the SQL executions `body` runs; the tuple count is a
    * `collect`.
    */
  private def executions(body: => Unit): Seq[String] = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        names.add(f); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = { names.add(f); () }
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.TestListenerBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    names.asScala.toSeq
  }

  private def assertOneFilePerTuple(t: LakeTable, spec: String): Unit = {
    val tr = PartitionTransform.parse(spec)
    val v = tr.expr(col(tr.column), rows.schema(tr.column).dataType)
    // grouping treats -0.0 as 0.0 and every NaN as one value
    val perTuple = t.read().select(v.as("v"), input_file_name().as("f"))
      .groupBy("v").agg(countDistinct("f").as("files")).collect()
    assert(perTuple.forall(_.getLong(1) == 1),
      s"$spec: a tuple spans files: ${perTuple.toSeq}")
    val files = t.meta.currentSnapshot.get.dataFiles
    assert(files.size == perTuple.length,
      s"$spec: ${files.size} files for ${perTuple.length} tuples")
    files.foreach { f =>
      val st = f.partStats(tr.valueName)
      assert(st.min == st.max, s"$spec: ${f.path} holds $st")
    }
    assert(t.read().count() == 48)
    assert(t.read().exceptAll(rows).isEmpty && rows.exceptAll(t.read()).isEmpty)
  }

  test("one-pass path: bounded rows skip the tuple count") {
    specs.foreach { spec =>
      val t = LakeTable.create(spark, freshLoc(), "lay1", rows.schema,
        partitionSpec = Seq(spec))
      val ran = executions(t.append(rows))
      assert(!ran.contains("collect"), s"$spec ran $ran")
      assertOneFilePerTuple(t, spec)
    }
  }

  test("counted path: a file source counts its tuples first") {
    val src = LakeEngine.tempLocation("layout_src")
    rows.write.parquet(src)
    val fromFiles = spark.read.parquet(src)
    assert(fromFiles.queryExecution.optimizedPlan.maxRows.isEmpty)
    specs.foreach { spec =>
      val t = LakeTable.create(spark, freshLoc(), "lay2", rows.schema,
        partitionSpec = Seq(spec))
      val ran = executions(t.append(fromFiles))
      assert(ran.contains("collect"), s"$spec ran $ran")
      assertOneFilePerTuple(t, spec)
    }
  }

  test("a bound above the file count asked for packs tuples") {
    // 48 rows may hold more tuples than 2 files: counted and packed
    val t = LakeTable.create(spark, freshLoc(), "lay3", rows.schema,
      partitionSpec = Seq("day(ts)"))
    val ran = executions(t.append(rows, targetFiles = Some(2)))
    assert(ran.contains("collect"), s"ran $ran")
    assert(t.meta.currentSnapshot.get.dataFiles.size == 2)
    assert(t.read().count() == 48)
  }
}
