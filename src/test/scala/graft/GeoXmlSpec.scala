package graft

import graft.functions.Geometry._
import graft.sources.GeoXml
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** KML/KMZ + GML readers against hand-built OGC-spec fixtures, plus
  * the line-splittable GeoJSONSeq scan.
  */
class GeoXmlSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private val kmlDoc =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<kml xmlns="http://www.opengis.net/kml/2.2">
      |<Document>
      |  <Folder>
      |    <Placemark>
      |      <name>hq</name>
      |      <description>head office</description>
      |      <ExtendedData>
      |        <Data name="floors"><value>12</value></Data>
      |        <SchemaData><SimpleData name="code">B1</SimpleData></SchemaData>
      |      </ExtendedData>
      |      <Point><coordinates>13.4,52.5,34.0</coordinates></Point>
      |    </Placemark>
      |    <Placemark>
      |      <name>route</name>
      |      <LineString><coordinates>
      |        0,0 3,4 6,4
      |      </coordinates></LineString>
      |    </Placemark>
      |  </Folder>
      |  <Placemark>
      |    <name>site</name>
      |    <Polygon>
      |      <outerBoundaryIs><LinearRing><coordinates>
      |        0,0 4,0 4,4 0,4 0,0
      |      </coordinates></LinearRing></outerBoundaryIs>
      |      <innerBoundaryIs><LinearRing><coordinates>
      |        1,1 2,1 2,2 1,2 1,1
      |      </coordinates></LinearRing></innerBoundaryIs>
      |    </Polygon>
      |  </Placemark>
      |  <Placemark>
      |    <name>pair</name>
      |    <MultiGeometry>
      |      <Point><coordinates>1,1</coordinates></Point>
      |      <Point><coordinates>2,2</coordinates></Point>
      |    </MultiGeometry>
      |  </Placemark>
      |</Document>
      |</kml>""".stripMargin

  test("KML: placemarks, altitude dropped, holes, ExtendedData") {
    val rows = GeoXml.kmlFeatures(kmlDoc.getBytes("UTF-8"))
    assert(rows.length == 4)
    val byName = rows.map(r => r._3("name") -> r).toMap
    val (wkb, t, attrs) = byName("hq")
    assert(t == "ST_Point" && parseWkb(wkb) == GPoint(Some(Pt(13.4, 52.5))))
    assert(attrs("description") == "head office" &&
      attrs("floors") == "12" && attrs("code") == "B1")
    assert(byName("route")._2 == "ST_LineString")
    assert(graft.functions.Geometry.length(parseWkb(byName("route")._1))
      == 5.0 + 3.0)
    val site = parseWkb(byName("site")._1)
    assert(byName("site")._2 == "ST_Polygon" &&
      math.abs(graft.functions.Geometry.area(site) - 15.0) < 1e-12)
    assert(byName("pair")._2 == "ST_GeometryCollection")
  }

  test("KMZ: zipped KML member is found and parsed; engine scan works") {
    val dir = Files.createTempDirectory("kml")
    Files.writeString(dir.resolve("a.kml"), kmlDoc)
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("doc.kml"))
    z.write(kmlDoc.getBytes("UTF-8"))
    z.close()
    Files.write(dir.resolve("b.kmz"), bos.toByteArray)
    val df = LakeEngine(spark).createLakeTable("kml_t", dir.toString,
      format = Some("gdal"))
    assert(df.count() == 8) // both files, four placemarks each
    assert(df.filter(org.apache.spark.sql.functions
      .col("attributes")("name") === "hq").count() == 2)
    intercept[IllegalArgumentException] {
      GeoXml.kmlFeatures("PK".getBytes("UTF-8"))
    }
  }

  private val gmlDoc =
    """<?xml version="1.0"?>
      |<wfs:FeatureCollection xmlns:gml="http://www.opengis.net/gml">
      |  <gml:featureMember>
      |    <topp:city>
      |      <topp:name>Berlin</topp:name>
      |      <topp:pop>3700000</topp:pop>
      |      <topp:geom>
      |        <gml:Point><gml:pos>13.4 52.5</gml:pos></gml:Point>
      |      </topp:geom>
      |    </topp:city>
      |  </gml:featureMember>
      |  <gml:featureMember>
      |    <topp:road>
      |      <topp:name>a2</topp:name>
      |      <topp:geom>
      |        <gml:LineString>
      |          <gml:coordinates>0,0 3,4</gml:coordinates>
      |        </gml:LineString>
      |      </topp:geom>
      |    </topp:road>
      |  </gml:featureMember>
      |  <gml:featureMembers>
      |    <topp:zone>
      |      <topp:name>z9</topp:name>
      |      <topp:geom>
      |        <gml:Polygon>
      |          <gml:exterior><gml:LinearRing>
      |            <gml:posList>0 0 5 0 5 5 0 5 0 0</gml:posList>
      |          </gml:LinearRing></gml:exterior>
      |          <gml:interior><gml:LinearRing>
      |            <gml:posList>1 1 2 1 2 2 1 2 1 1</gml:posList>
      |          </gml:LinearRing></gml:interior>
      |        </gml:Polygon>
      |      </topp:geom>
      |    </topp:zone>
      |  </gml:featureMembers>
      |</wfs:FeatureCollection>""".stripMargin

  test("GML: both coordinate encodings, holes, attributes") {
    val rows = GeoXml.gmlFeatures(gmlDoc.getBytes("UTF-8"))
    assert(rows.length == 3)
    val byName = rows.map(r => r._3("name") -> r).toMap
    assert(parseWkb(byName("Berlin")._1) == GPoint(Some(Pt(13.4, 52.5))))
    assert(byName("Berlin")._3("pop") == "3700000")
    assert(graft.functions.Geometry.length(
      parseWkb(byName("a2")._1)) == 5.0)
    assert(math.abs(graft.functions.Geometry.area(
      parseWkb(byName("z9")._1)) - 24.0) < 1e-12)
    // odd posList count refuses loudly
    intercept[IllegalArgumentException] {
      GeoXml.gmlFeatures(
        """<fc xmlns:gml="x"><gml:featureMember><f>
          |<g><gml:Point><gml:pos>1 2 3</gml:pos></gml:Point></g>
          |</f></gml:featureMember></fc>""".stripMargin.getBytes("UTF-8"))
    }
  }

  test("GeoJSONSeq: line-delimited features scan with intra-file splits") {
    val dir = Files.createTempDirectory("gjs")
    val lines = (0 until 100).map { i =>
      s"""{"type":"Feature","geometry":{"type":"Point",""" +
        s""""coordinates":[$i,${i * 2}]},"properties":{"i":$i}}"""
    }
    Files.write(Paths.get(dir.toString, "pts.geojsonl"),
      (lines.mkString("\n") + "\n\n").getBytes("UTF-8"))
    val df = LakeEngine(spark).createLakeTable("gjs_t", dir.toString,
      format = Some("gdal"))
    assert(df.count() == 100)
    graft.functions.SpatialFunctions.register(spark)
    val s = spark.sql(
      "SELECT sum(st_x(st_geomfromwkb(geometry))) FROM gjs_t")
      .head().getDouble(0)
    assert(s == (0 until 100).sum.toDouble)
    assert(spark.sql(
      "SELECT properties['i'] FROM gjs_t ORDER BY CAST(properties['i'] AS INT) DESC LIMIT 1")
      .head().getString(0) == "99")
  }
}
