package graft

import graft.functions.Geometry._
import graft.sources.Mif
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The MIF/MID reader against spec-built text fixtures (MapInfo
  * Interchange Format appendix), written clause-by-clause — never by
  * the reader under test.
  */
class MifSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private val mifDoc =
    """Version 300
      |Charset "WindowsLatin1"
      |Delimiter ","
      |Columns 2
      |  id Integer
      |  name Char(20)
      |Data
      |
      |Point 1.5 2.5
      |  Symbol (34,0,12)
      |Line 0 0 3 4
      |Pline 3
      |0 0
      |1 1
      |2 0
      |  Pen (1,2,0)
      |Pline Multiple 2
      |2
      |0 0
      |1 0
      |2
      |5 5
      |6 6
      |Region 1
      |4
      |0 0
      |1 0
      |1 1
      |0 1
      |  Brush (2,16777215)
      |Region 2
      |3
      |0 0
      |2 0
      |0 2
      |3
      |10 10
      |12 10
      |10 12
      |None
      |""".stripMargin

  private val midDoc =
    """1,"alpha"
      |2,"beta"
      |3,"gamma, with comma"
      |4,"delta"
      |5,"epsilon"
      |6,"zeta"
      |7,"eta"
      |""".stripMargin

  test("all object types, styling skipped, mid attributes aligned") {
    val rows = Mif.parse(mifDoc, Some(midDoc))
    assert(rows.map(_._2) == Seq("ST_Point", "ST_LineString",
      "ST_LineString", "ST_MultiLineString", "ST_Polygon",
      "ST_MultiPolygon", "NONE"))
    val g = rows.map(r => Option(r._1).map(parseWkb))
    assert(g(0).get == GPoint(Some(Pt(1.5, 2.5))))
    assert(g(1).get == GLine(IndexedSeq(Pt(0, 0), Pt(3, 4))))
    assert(g(2).get == GLine(IndexedSeq(Pt(0, 0), Pt(1, 1), Pt(2, 0))))
    assert(g(3).get == GMultiLine(IndexedSeq(
      IndexedSeq(Pt(0, 0), Pt(1, 0)), IndexedSeq(Pt(5, 5), Pt(6, 6)))))
    assert(g(4).get == GPolygon(IndexedSeq(IndexedSeq(
      Pt(0, 0), Pt(1, 0), Pt(1, 1), Pt(0, 1), Pt(0, 0)))))
    assert(g(5).get == GMultiPolygon(IndexedSeq(
      IndexedSeq(IndexedSeq(Pt(0, 0), Pt(2, 0), Pt(0, 2), Pt(0, 0))),
      IndexedSeq(IndexedSeq(Pt(10, 10), Pt(12, 10), Pt(10, 12), Pt(10, 10))))))
    assert(g(6).isEmpty)
    // attributes: delimiter-split with quotes honored
    assert(rows(0)._3 == Map("id" -> "1", "name" -> "alpha"))
    assert(rows(2)._3("name") == "gamma, with comma")
    assert(rows(6)._3 == Map("id" -> "7", "name" -> "eta"))
  }

  test("reads through the engine with companion mid discovery") {
    val dir = Files.createTempDirectory("graft_mif")
    Files.write(dir.resolve("t.mif"), mifDoc.getBytes(UTF_8))
    Files.write(dir.resolve("t.mid"), midDoc.getBytes(UTF_8))
    val e = LakeEngine(spark)
    val df = e.createLakeTable("mif_t", dir.toString, format = Some("gdal"))
    assert(df.count() == 7)
    val pt = spark.sql(
      "SELECT st_x(st_geomfromwkb(geometry)) FROM mif_t " +
        "WHERE geom_type = 'ST_Point'").collect()(0).getDouble(0)
    assert(pt == 1.5)
  }

  test("malformed structures refuse loudly") {
    val noData = "Version 300\nColumns 0\n"
    assert(intercept[Exception](Mif.parse(noData, None))
      .getMessage.contains("Data"))
    val shortRegion =
      "Version 300\nData\nRegion 1\n2\n0 0\n1 1\n"
    assert(intercept[Exception](Mif.parse(shortRegion, None))
      .getMessage.contains("ring"))
    val midMismatch = "Version 300\nData\nPoint 0 0\nPoint 1 1\n"
    assert(intercept[Exception](Mif.parse(midMismatch, Some("1\n")))
      .getMessage.contains("MID"))
    val unknownObj = "Version 300\nData\nArc 0 0 1 1 0 90\n"
    assert(intercept[Exception](Mif.parse(unknownObj, None))
      .getMessage.contains("not supported"))
  }
}
