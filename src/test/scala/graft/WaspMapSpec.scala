package graft

import graft.functions.Geometry._
import graft.sources.WaspMap
import org.scalatest.funsuite.AnyFunSuite

/** The WAsP .map reader against spec-built fixtures. */
class WaspMapSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private val doc =
    """WAsP terrain map of nowhere
      |1.0 0.0 0.0 1.0
      |0.0 0.0 100.0 100.0
      |0
      |50.0 3
      |0.0 0.0  10.0 0.0
      |10.0 10.0
      |0.03 0.1 4
      |0.0 0.0 5.0 0.0 5.0 5.0 0.0 5.0
      |0.0 0.4 75.0 2
      |1.0 1.0 2.0 2.0
      |""".stripMargin

  test("elevation, roughness, and combined contours with attributes") {
    val rows = WaspMap.parse(doc)
    assert(rows.length == 3)
    assert(rows.forall(_._2 == "ST_LineString"))
    val g = rows.map(r => parseWkb(r._1))
    assert(g(0) == GLine(IndexedSeq(Pt(0, 0), Pt(10, 0), Pt(10, 10))))
    assert(g(1) == GLine(IndexedSeq(Pt(0, 0), Pt(5, 0), Pt(5, 5), Pt(0, 5))))
    assert(g(2) == GLine(IndexedSeq(Pt(1, 1), Pt(2, 2))))
    assert(rows(0)._3 == Map("elev" -> "50.0"))
    assert(rows(1)._3 == Map("rough_l" -> "0.03", "rough_r" -> "0.1"))
    assert(rows(2)._3 == Map("rough_l" -> "0.0", "rough_r" -> "0.4",
      "elev" -> "75.0"))
  }

  test("engine wiring and refusals") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wasp")
    java.nio.file.Files.write(dir.resolve("t.map"),
      doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val df = LakeEngine(spark).createLakeTable("wasp_t",
      dir.resolve("t.map").toString, format = Some("gdal"))
    assert(df.count() == 3)
    // declared 3 points, only 2 present
    val short = doc.split("\n").take(4).mkString("\n") +
      "\n50.0 3\n0.0 0.0 1.0 1.0\n"
    assert(intercept[Exception](WaspMap.parse(short))
      .getMessage.contains("declares"))
    // non-numeric garbage refuses rather than skipping
    val garbage = doc.split("\n").take(4).mkString("\n") +
      "\n50.0 2\n0.0 zero 1.0 1.0\n"
    assert(intercept[Exception](WaspMap.parse(garbage))
      .getMessage.contains("non-numeric"))
  }
}
