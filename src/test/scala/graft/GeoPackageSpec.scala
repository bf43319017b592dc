package graft

import graft.functions.Geometry._
import graft.sources.{GeoPackage, Sqlite}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The GeoPackage/SQLite reader against a COMMITTED fixture produced
  * by a real writer (python's sqlite3 via the standard GPKG DDL) — a
  * genuine producer/consumer differential, like reading Iceberg
  * metadata written by the spec rather than by ourselves. The `big`
  * table forces interior b-tree pages and overflow-page chains.
  */
class GeoPackageSpec extends AnyFunSuite {

  private val fixture = Paths.get(
    getClass.getResource("/fixtures/sample.gpkg").toURI)
  private lazy val bytes = Files.readAllBytes(fixture)

  test("feature layer: geometries unwrap to WKB, attrs keep rowid alias") {
    val rows = GeoPackage.features(bytes, Some("places"))
    assert(rows.length == 3)
    val byFid = rows.map(r => r._4("fid") -> r).toMap
    val (_, wkb1, t1, a1) = byFid("1")
    assert(t1 == "ST_Point")
    assert(parseWkb(wkb1) == GPoint(Some(Pt(10.0, 20.0))))
    assert(a1("name") == "alpha" && a1("score") == "1.5" &&
      a1("tag") == "0102")
    val (_, _, t2, a2) = byFid("2")
    assert(t2 == "ST_Point" && !a2.contains("score") && !a2.contains("tag"))
    val (_, wkb3, t3, _) = byFid("3")
    assert(t3 == "ST_Polygon")
    assert(math.abs(graft.functions.Geometry.area(parseWkb(wkb3)) - 16.0)
      < 1e-12)
  }

  test("big table: interior pages and overflow chains decode fully") {
    val rows = GeoPackage.features(bytes, Some("big"))
    assert(rows.length == 2000)
    val byFid = rows.map(r => r._4("fid") -> r._4).toMap
    assert(byFid("1501")("k") == (1501 * 7).toString)
    assert(byFid("1501")("txt") == "x1501-" * 3)
    assert(byFid("1500")("txt") == "x1500-" * 400) // overflow chain
    // every 50th row spilled to overflow pages (2400-char text)
    val long = rows.map(_._4("txt")).filter(_.length > 2000)
    assert(long.length == 40)
    assert(byFid("100")("txt") == "x0100-" * 400)
    // geometries all decode to points with the expected coordinates
    assert(rows.forall(_._3 == "ST_Point"))
    val p137 = rows.find(_._4("fid") == "137").get
    assert(parseWkb(p137._2) == GPoint(Some(Pt(37.0, 26.0))))
  }

  test("distributed read + layer scoping through the engine") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("gpkg")
    Files.copy(fixture, dir.resolve("sample.gpkg"))
    val e = LakeEngine(spark)
    val all = e.createLakeTable("gpkg_t", dir.toString, format = Some("gdal"))
    assert(all.count() == 2005)
    assert(all.select("layer").distinct().count() == 3)
    val places = e.createLakeTable("gpkg_places", dir.toString,
      format = Some("gdal"), options = Map("layer" -> "places"))
    assert(places.count() == 3)
    graft.functions.SpatialFunctions.register(spark)
    val area = spark.sql(
      """SELECT max(st_area(st_geomfromwkb(geometry))) FROM gpkg_places""")
      .head().getDouble(0)
    assert(math.abs(area - 16.0) < 1e-12)
  }

  test("NULL geometry cells keep the row with null geometry") {
    // legal per the GeoPackage spec; GDAL emits null-geometry rows
    val rows = GeoPackage.features(bytes, Some("nullgeo"))
    assert(rows.length == 2)
    val byName = rows.map(r => r._4("name") -> r).toMap
    assert(parseWkb(byName("has_geom")._2) == GPoint(Some(Pt(5.0, 6.0))))
    assert(byName("no_geom")._2 == null && byName("no_geom")._3 == null)
  }

  test("sqlite primitives and refusals") {
    assert(Sqlite.varint(Array(0x7f.toByte), 0) == ((127L, 1)))
    assert(Sqlite.varint(Array(0x81.toByte, 0x00), 0) == ((128L, 2)))
    val (names, alias) = Sqlite.parseCreate(
      """CREATE TABLE t (fid INTEGER PRIMARY KEY, "name" TEXT,
        |score REAL, PRIMARY KEY (fid))""".stripMargin)
    assert(names == Vector("fid", "name", "score") && alias == 0)
    intercept[IllegalArgumentException] {
      Sqlite.open("not a database at all, padded...........".getBytes
        ++ new Array[Byte](600))
    }
    intercept[IllegalArgumentException] {
      GeoPackage.features(bytes, Some("nope"))
    }
  }
}
