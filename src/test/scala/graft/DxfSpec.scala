package graft

import graft.functions.Geometry
import graft.functions.Geometry._
import graft.sources.Dxf
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The DXF reader against spec-built text fixtures (Autodesk DXF
  * Reference group-code stream), written pair-by-pair — never by the
  * reader under test.
  */
class DxfSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def dxf(pairs: (Int, String)*): String =
    pairs.map { case (c, v) => s"$c\n$v" }.mkString("", "\n", "\n")

  private val header = Seq(
    0 -> "SECTION", 2 -> "ENTITIES")
  private val footer = Seq(0 -> "ENDSEC", 0 -> "EOF")

  private def write(content: String): String = {
    val f = Files.createTempFile("graft_dxf", ".dxf")
    Files.write(f, content.getBytes(US_ASCII))
    f.toString
  }

  test("point, line, open and closed lwpolyline, legacy polyline") {
    val doc = dxf((header ++ Seq(
      0 -> "POINT", 8 -> "sites", 5 -> "A1", 10 -> "1.5", 20 -> "2.5",
      0 -> "LINE", 8 -> "roads", 10 -> "0", 20 -> "0", 11 -> "3", 21 -> "4",
      // open LWPOLYLINE: 3 vertices
      0 -> "LWPOLYLINE", 8 -> "rivers", 90 -> "3", 70 -> "0",
      10 -> "0", 20 -> "0", 10 -> "1", 20 -> "1", 10 -> "2", 20 -> "0",
      // closed LWPOLYLINE: unit square -> POLYGON
      0 -> "LWPOLYLINE", 8 -> "parcels", 90 -> "4", 70 -> "1",
      10 -> "0", 20 -> "0", 10 -> "1", 20 -> "0",
      10 -> "1", 20 -> "1", 10 -> "0", 20 -> "1",
      // unsupported entity: skipped, must not break the scan
      0 -> "CIRCLE", 8 -> "junk", 10 -> "5", 20 -> "5", 40 -> "2",
      // legacy POLYLINE (closed triangle)
      0 -> "POLYLINE", 8 -> "legacy", 70 -> "1",
      0 -> "VERTEX", 10 -> "0", 20 -> "0",
      0 -> "VERTEX", 10 -> "2", 20 -> "0",
      0 -> "VERTEX", 10 -> "0", 20 -> "2",
      0 -> "SEQEND") ++ footer).map(p => (p._1, p._2)): _*)
    val rows = Dxf.parseEntities(doc)
    assert(rows.map(_._2) == Seq("ST_Point", "ST_LineString",
      "ST_LineString", "ST_Polygon", "ST_Polygon"))
    // geometry round-trips through the production WKB codec
    val geoms = rows.map(r => parseWkb(r._1))
    assert(geoms(0) == GPoint(Some(Pt(1.5, 2.5))))
    assert(geoms(1) == GLine(IndexedSeq(Pt(0, 0), Pt(3, 4))))
    assert(geoms(2) == GLine(IndexedSeq(Pt(0, 0), Pt(1, 1), Pt(2, 0))))
    // closed ring gains the explicit closing vertex
    assert(geoms(3) == GPolygon(IndexedSeq(IndexedSeq(
      Pt(0, 0), Pt(1, 0), Pt(1, 1), Pt(0, 1), Pt(0, 0)))))
    assert(geoms(4) == GPolygon(IndexedSeq(IndexedSeq(
      Pt(0, 0), Pt(2, 0), Pt(0, 2), Pt(0, 0)))))
    // properties carry layer + handle
    assert(rows(0)._3 == Map("layer" -> "sites", "handle" -> "A1"))
    assert(rows(1)._3("layer") == "roads")
  }

  test("reads through the engine with a filename column") {
    val p = write(dxf((header ++ Seq(
      0 -> "POINT", 8 -> "l1", 10 -> "7", 20 -> "8") ++ footer)
      .map(x => (x._1, x._2)): _*))
    val e = new LakeEngine(spark)
    val df = e.createLakeTable("dxf_t", p, format = Some("gdal"))
    val r = df.collect()
    assert(r.length == 1)
    assert(r(0).getAs[String]("geom_type") == "ST_Point")
    assert(r(0).getAs[String]("filename").nonEmpty)
    // and the WKB feeds the st_* layer
    val x = spark.sql("SELECT st_x(st_geomfromwkb(geometry)) FROM dxf_t")
      .collect()(0).getDouble(0)
    assert(x == 7.0)
  }

  test("malformed structures refuse loudly") {
    // POLYLINE without SEQEND
    val noSeqend = dxf((header ++ Seq(
      0 -> "POLYLINE", 70 -> "0",
      0 -> "VERTEX", 10 -> "0", 20 -> "0") ++ footer)
      .map(x => (x._1, x._2)): _*)
    val e1 = intercept[Exception](Dxf.parseEntities(noSeqend))
    assert(e1.getMessage.contains("SEQEND"))
    // LWPOLYLINE vertex-count mismatch
    val badCount = dxf((header ++ Seq(
      0 -> "LWPOLYLINE", 90 -> "3", 70 -> "0",
      10 -> "0", 20 -> "0", 10 -> "1", 20 -> "1") ++ footer)
      .map(x => (x._1, x._2)): _*)
    val e2 = intercept[Exception](Dxf.parseEntities(badCount))
    assert(e2.getMessage.contains("declares"))
    // binary DXF refuses
    val e3 = intercept[Exception](
      Dxf.parseEntities("AutoCAD Binary DXF\n"))
    assert(e3.getMessage.contains("binary"))
    // a document with no ENTITIES section is zero rows, not an error
    assert(Dxf.parseEntities(dxf(0 -> "SECTION", 2 -> "HEADER",
      0 -> "ENDSEC", 0 -> "EOF")).isEmpty)
  }
}
