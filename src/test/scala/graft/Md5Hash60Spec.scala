package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native 60-bit md5 hash must be value-identical to the SQL
  * formulation it replaced (`conv(substring(md5(x),1,15),16,10)`), which
  * is in turn pinned to DuckDB's `('0x' || substring(md5(x),1,15))::BIGINT`
  * by the judged differentials — any drift here silently changes every
  * dedup/sampling/classifier hash downstream.
  */
class Md5Hash60Spec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("Md5Hash60 equals conv(substring(md5)) for scalar strings") {
    val df = Seq("", "a", "hello world", "ünïcode ⚡ test", "x" * 5000,
      "line\nbreak\ttab", "高崎線 数字123").toDF("s")
    val both = df.select(
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("o"),
      graft.operators.TextOps.hash60(col("s")).as("n"))
    val rows = both.collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1), r))
    // non-negative 60-bit domain
    rows.foreach(r => assert(r.getLong(1) >= 0L))
  }

  test("Md5Hash60All equals the transform-lambda over arrays (incl. nulls)") {
    val df = Seq(
      (1L, Seq("a", "b", "hello world")),
      (2L, Seq.empty[String]),
      (3L, Seq("only"))).toDF("id", "arr")
    val o = df.selectExpr("id",
      "transform(arr, s -> cast(conv(substring(md5(s),1,15),16,10) as bigint)) AS h")
    val n = df.select(col("id"),
      graft.operators.TextOps.hashAll("arr").as("h"))
    assert(o.orderBy("id").collect().toSeq.map(_.toString) ===
      n.orderBy("id").collect().toSeq.map(_.toString))
    // null array → null; null element → null element
    val withNulls = spark.sql(
      "SELECT CAST(NULL AS ARRAY<STRING>) AS arr UNION ALL SELECT array('x', NULL)")
    val got = withNulls.select(graft.operators.TextOps.hashAll("arr").as("h"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[Any](0))
    assert(got.exists(_ == null))
    assert(got.filter(_ != null).head(1) == null)
  }

  test("Md5Hash60All null-free array type (codegen primitive path)") {
    // array(lit...) types as ARRAY<STRING> containsNull=false, which is
    // the shape WordShingles feeds in production — exercises the
    // long[] fast path of the r16 doGenCode
    val df = spark.range(1).select(
      array(lit("a"), lit("b"), lit("hello world")).as("arr"))
    assert(!df.schema("arr").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    val got = df.select(graft.operators.TextOps.hashAll("arr").as("h"))
      .collect().head.getSeq[Long](0)
    val exp = Seq("a", "b", "hello world").map { s =>
      spark.range(1).select(
        conv(substring(md5(lit(s)), 1, 15), 16, 10).cast("long"))
        .collect().head.getLong(0)
    }
    assert(got === exp)
  }

  test("Md5Hash60All refuses non-string-array input at analysis") {
    def hashAll(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftBridge.column(graft.functions.Md5Hash60All(
        org.apache.spark.sql.GraftBridge.expression(c)))
    val df = spark.range(1).select(array(col("id")).as("ints"),
      lit("x").as("s"), array(array(lit("x"))).as("nested"))
    Seq("ints", "s", "nested").foreach { c =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.select(hashAll(col(c))))
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$c: ${e.getMessage}")
    }
  }

  test("Md5Hash60All guards a null in an array typed null-free") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.{BoundReference,
      GenericInternalRow}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    // a producer that mislabels its array: the kernel must not hash the
    // null (an NPE deep in md5) or skip it (a wrong null-free result)
    val e = graft.functions.Md5Hash60All(BoundReference(0,
      ArrayType(StringType, containsNull = false), nullable = false))
    val row = new GenericInternalRow(Array[Any](new GenericArrayData(
      Array[Any](UTF8String.fromString("a"), null))))
    val interpreted = intercept[IllegalStateException](e.eval(row))
    assert(interpreted.getMessage.contains("null element"))
    val projection = org.apache.spark.sql.catalyst.expressions
      .UnsafeProjection.create(Seq(e))
    val generated = intercept[IllegalStateException](projection(row))
    assert(generated.getMessage.contains("null element"))
  }
}
