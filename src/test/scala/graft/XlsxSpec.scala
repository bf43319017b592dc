package graft

import graft.sources.Xlsx
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The XLSX reader against hand-built SpreadsheetML fixtures (ECMA-376
  * part names and cell encodings written directly, never by the reader
  * under test).
  */
class XlsxSpec extends AnyFunSuite {

  private def xlsx(entries: (String, String)*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
    }
    z.close()
    bos.toByteArray
  }

  private val sharedXml =
    """<?xml version="1.0"?>
      |<sst count="3" uniqueCount="3">
      |  <si><t>name</t></si>
      |  <si><t>ann</t></si>
      |  <si><r><t>bo</t></r><r><t>b</t></r></si>
      |</sst>""".stripMargin

  private val sheetXml =
    """<?xml version="1.0"?>
      |<worksheet><sheetData>
      |  <row r="1">
      |    <c r="A1" t="s"><v>0</v></c>
      |    <c r="B1" t="inlineStr"><is><t>score</t></is></c>
      |    <c r="C1" t="inlineStr"><is><t>ok?</t></is></c>
      |  </row>
      |  <row r="2">
      |    <c r="A2" t="s"><v>1</v></c>
      |    <c r="B2"><v>12.5</v></c>
      |    <c r="C2" t="b"><v>1</v></c>
      |  </row>
      |  <row r="3">
      |    <c r="A3" t="s"><v>2</v></c>
      |    <c r="C3" t="b"><v>0</v></c>
      |  </row>
      |</sheetData></worksheet>""".stripMargin

  test("cell encodings: shared, rich-run, inline, number, bool, gaps") {
    val grid = Xlsx.parse(xlsx(
      "xl/sharedStrings.xml" -> sharedXml,
      "xl/worksheets/sheet1.xml" -> sheetXml))
    assert(grid == Vector(
      Vector("name", "score", "ok?"),
      Vector("ann", "12.5", "true"),
      Vector("bob", null, "false"))) // B3 missing -> null; rich runs join
  }

  test("dataframe with header: names sanitized, values queryable") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("xlsx")
    val f = dir.resolve("t.xlsx")
    Files.write(f, xlsx(
      "xl/sharedStrings.xml" -> sharedXml,
      "xl/worksheets/sheet1.xml" -> sheetXml))
    val e = LakeEngine(spark)
    val df = e.createLakeTable("sheet_t", f.toString, format = Some("gdal"))
    assert(df.columns.toSeq == Seq("name", "score", "ok_"))
    assert(df.count() == 2)
    val r = spark.sql(
      """SELECT name, CAST(score AS DOUBLE), CAST(ok_ AS BOOLEAN)
        |FROM sheet_t ORDER BY name""".stripMargin).collect()
    assert(r(0).getString(0) == "ann" && r(0).getDouble(1) == 12.5 &&
      r(0).getBoolean(2))
    assert(r(1).getString(0) == "bob" && r(1).isNullAt(1) &&
      !r(1).getBoolean(2))
  }

  private def mini(v: String): String =
    s"""<worksheet><sheetData>
       |  <row r="1"><c r="A1" t="inlineStr"><is><t>$v</t></is></c></row>
       |</sheetData></worksheet>""".stripMargin

  test("sheet selection: workbook tab order and layer name") {
    // tab order (beta first) disagrees with lexicographic part order
    // (sheet10.xml < sheet2.xml) AND with numeric order (2 < 10):
    // only xl/workbook.xml + rels resolve it correctly.
    val wb = xlsx(
      "xl/workbook.xml" ->
        """<workbook><sheets>
          |  <sheet name="beta" sheetId="7" r:id="rId2"/>
          |  <sheet name="alpha" sheetId="3" r:id="rId1"/>
          |</sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships>
          |  <Relationship Id="rId1" Target="worksheets/sheet2.xml"/>
          |  <Relationship Id="rId2" Target="worksheets/sheet10.xml"/>
          |</Relationships>""".stripMargin,
      "xl/worksheets/sheet2.xml" -> mini("from_alpha"),
      "xl/worksheets/sheet10.xml" -> mini("from_beta"))
    assert(Xlsx.parse(wb) == Vector(Vector("from_beta")))
    assert(Xlsx.parse(wb, Some("alpha")) == Vector(Vector("from_alpha")))
    val err = intercept[IllegalArgumentException] {
      Xlsx.parse(wb, Some("nope"))
    }
    assert(err.getMessage.contains("beta"))
  }

  test("sheet fallback without workbook part: numeric suffix order") {
    val noWb = xlsx(
      "xl/worksheets/sheet10.xml" -> mini("ten"),
      "xl/worksheets/sheet2.xml" -> mini("two"))
    assert(Xlsx.parse(noWb) == Vector(Vector("two")))
    intercept[IllegalArgumentException] { Xlsx.parse(noWb, Some("x")) }
  }

  test("phonetic runs (rPh) are not cell text") {
    // East-Asian files carry furigana in <rPh>; its <t> must not leak
    // into the value (neither in sharedStrings nor inlineStr cells)
    val grid = Xlsx.parse(xlsx(
      "xl/sharedStrings.xml" ->
        """<sst><si><r><t>東京</t></r><rPh sb="0" eb="2"><t>トウキョウ</t></rPh>
          |<phoneticPr fontId="1"/></si></sst>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet><sheetData>
          |  <row r="1"><c r="A1" t="s"><v>0</v></c>
          |    <c r="B1" t="inlineStr"><is><t>大阪</t>
          |      <rPh sb="0" eb="2"><t>オオサカ</t></rPh></is></c></row>
          |</sheetData></worksheet>""".stripMargin))
    assert(grid == Vector(Vector("東京", "大阪")))
  }

  test("headerless mode and refusals") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("xlsx2")
    val f = dir.resolve("h.xlsx")
    Files.write(f, xlsx("xl/worksheets/sheet1.xml" ->
      """<worksheet><sheetData>
        |  <row r="1"><c r="A1"><v>1</v></c><c r="B1"><v>2</v></c></row>
        |</sheetData></worksheet>""".stripMargin))
    val df = Xlsx.read(spark, f.toString, header = false)
    assert(df.columns.toSeq == Seq("c1", "c2"))
    assert(df.head().getString(0) == "1")
    // not a zip / missing worksheet part
    intercept[Exception] { Xlsx.parse("plain".getBytes) }
    intercept[IllegalArgumentException] {
      Xlsx.parse(xlsx("xl/other.xml" -> "<a/>"))
    }
  }
}
