package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** DDL-time foreign-table CSV option validation (reference
  * test_csv_options.py over option.c:230-441): bad options refuse at
  * CREATE with the reference's exact messages, before any file is
  * touched; valid combinations pass; the `null` / `new_line` options
  * actually drive the read.
  */
class CsvOptionsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def csvFile(content: String): String = {
    val p = Files.createTempFile("csvopt", ".csv")
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  private def expectMsg(msg: String)(body: => Unit): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(msg), e.getMessage)
  }

  test("invalid options refuse at DDL with the reference messages") {
    val e = LakeEngine(spark)
    // the path deliberately does not exist: validation must fire FIRST
    def make(opts: Map[String, String],
        format: Option[String] = Some("csv")): Unit =
      e.createLakeTable("csvopt_bad", "/nonexistent/x.csv",
        format = format, options = opts)

    expectMsg("header requires a Boolean value") {
      make(Map("header" -> "yes"))
    }
    expectMsg("delimiter must be a single one-byte character") {
      make(Map("delimiter" -> ";;"))
    }
    expectMsg("delimiter cannot be newline or carriage return") {
      make(Map("delimiter" -> "\n"))
    }
    expectMsg("quote must be a single one-byte character") {
      make(Map("quote" -> "\"\""))
    }
    expectMsg("escape must be a single one-byte character") {
      make(Map("escape" -> "ab"))
    }
    expectMsg("null cannot be newline or carriage return") {
      make(Map("null" -> "\n"))
    }
    expectMsg("new_line must be one of") {
      make(Map("new_line" -> "\\t"))
    }
    expectMsg(
      "CSV delimiter character must not appear in the NULL specification") {
      make(Map("delimiter" -> "|", "null" -> "|"))
    }
    expectMsg(
      "CSV quote character must not appear in the NULL specification") {
      make(Map("null" -> "\""))
    }
    expectMsg("CSV delimiter and quote must be different") {
      make(Map("delimiter" -> ",", "quote" -> ","))
    }
    expectMsg("only supported for csv format tables") {
      make(Map("header" -> "true", "delimiter" -> ","),
        format = Some("json"))
    }
    expectMsg("null_padding requires a Boolean value") {
      make(Map("null_padding" -> "maybe"))
    }
  }

  test("option keys a format does not take refuse at DDL") {
    val e = LakeEngine(spark)
    def make(path: String, format: Option[String],
        opts: Map[String, String]): Unit =
      e.createLakeTable("keys_bad", path, format = format, options = opts)
    // the paths do not exist: the keys refuse before any file is read
    expectMsg("invalid option \"layer\" for format 'parquet'") {
      make("/nonexistent/x.parquet", Some("parquet"), Map("layer" -> "x"))
    }
    expectMsg("invalid option \"layer\" for format 'parquet'") {
      make("/nonexistent/x.parquet", None, Map("layer" -> "x"))
    }
    expectMsg("invalid option \"mergeSchema\" for format 'json'") {
      make("/nonexistent/x.json", None, Map("mergeSchema" -> "true"))
    }
    expectMsg("invalid option \"layer\" for format 'csv'") {
      make("/nonexistent/x.csv", Some("csv"), Map("layer" -> "x"))
    }
    expectMsg("invalid option \"zip_path\" for format 'gdal'") {
      make("/nonexistent/x.xlsx", Some("gdal"), Map("zip_path" -> "x"))
    }
    expectMsg("invalid option \"layer\" for format 'iceberg'") {
      make("/nonexistent/metadata.json", Some("iceberg"), Map("layer" -> "x"))
    }
  }

  test("valid option set passes and null/new_line drive the read") {
    val e = LakeEngine(spark)
    val f = csvFile("id,v\n1,N/A\n2,hello\n")
    val df = e.createLakeTable("csvopt_ok", f, format = Some("csv"),
      options = Map("header" -> "true", "delimiter" -> ",",
        "quote" -> "\"", "escape" -> "\\", "null" -> "N/A"))
    val vs = df.orderBy("id").collect().map(r => Option(r.getString(1)))
    assert(vs.toSeq == Seq(None, Some("hello")),
      "null 'N/A' must read as SQL NULL")

    // CRLF new_line splits rows correctly
    val crlf = csvFile("id,v\r\n1,a\r\n2,b\r\n")
    val df2 = e.createLakeTable("csvopt_crlf", crlf, format = Some("csv"),
      options = Map("header" -> "true", "new_line" -> "\\r\\n"))
    assert(df2.count() == 2)

    // defGetBoolean prefixes accepted, like PG ('t', 'off', '1')
    val f3 = csvFile("1,x\n")
    e.createLakeTable("csvopt_b1", f3, format = Some("csv"),
      options = Map("header" -> "f"))
    e.createLakeTable("csvopt_b2", f3, format = Some("csv"),
      options = Map("header" -> "off"))
  }
}
