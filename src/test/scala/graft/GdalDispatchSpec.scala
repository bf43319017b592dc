package graft

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The `format 'gdal'` extension dispatcher and the `format 'log'`
  * options, both behind [[LakeEngine.createLakeTable]].
  */
class GdalDispatchSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val e = LakeEngine(spark)
  private val gdal = Some("gdal")

  private val dxfDoc = "0\nSECTION\n2\nENTITIES\n" +
    "0\nPOINT\n8\nl\n10\n1\n20\n2\n0\nENDSEC\n0\nEOF\n"
  private val kmlDoc =
    """<?xml version="1.0"?>
      |<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
      |<Placemark><name>p</name><Point><coordinates>1,2</coordinates>
      |</Point></Placemark></Document></kml>""".stripMargin
  private val mifDoc = "Version 300\nColumns 1\n  id Integer\nData\n" +
    "Point 1 2\n"

  private def dirWith(files: (String, Array[Byte])*): String = {
    val dir = Files.createTempDirectory("graft_gd_dir")
    files.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
    dir.toString
  }

  private def kmz: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("doc.kml"))
    z.write(kmlDoc.getBytes("UTF-8"))
    z.close()
    bos.toByteArray
  }

  private def dxfFile: Path = {
    val dxf = Files.createTempFile("graft_gd", ".dxf")
    Files.write(dxf, dxfDoc.getBytes(US_ASCII))
  }

  test("dispatches by extension to the native readers") {
    assert(e.createLakeTable("gd_dxf", dxfFile.toString, format = gdal)
      .count() == 1)

    val geojson = Files.createTempFile("graft_gd", ".geojson")
    Files.write(geojson,
      """{"type":"Feature","geometry":{"type":"Point",
        |"coordinates":[1,2]},"properties":{}}""".stripMargin
        .getBytes(US_ASCII))
    assert(e.createLakeTable("gd_gj", geojson.toString, format = gdal)
      .count() == 1)
  }

  test("proprietary and unknown formats refuse loudly") {
    val gdb = intercept[IllegalArgumentException](
      e.createLakeTable("x", "/tmp/a.gdb", format = gdal))
    assert(gdb.getMessage.contains("proprietary"))
    val unk = intercept[IllegalArgumentException](
      e.createLakeTable("x", "/tmp/a.unknownext", format = gdal))
    assert(unk.getMessage.contains("cannot infer"))
    val lay = intercept[IllegalArgumentException](
      e.createLakeTable("x", "/tmp/a.dxf", format = gdal,
        options = Map("layer" -> "L1")))
    assert(lay.getMessage.contains("layer"))
  }

  test("a directory takes its reader from the files inside it") {
    // .kml and .kmz both belong to the KML reader
    val kml = dirWith("a.kml" -> kmlDoc.getBytes("UTF-8"), "b.kmz" -> kmz)
    assert(e.createLakeTable("gd_kml_dir", kml, format = gdal).count() == 2)

    val two = dirWith("a.dxf" -> dxfDoc.getBytes(US_ASCII),
      "b.mif" -> mifDoc.getBytes(US_ASCII))
    val mixed = intercept[IllegalArgumentException](
      e.createLakeTable("x", two, format = gdal))
    assert(mixed.getMessage.contains("DXF") &&
      mixed.getMessage.contains("MIF"))

    val none = dirWith("notes.txt" -> "hello".getBytes(US_ASCII))
    val empty = intercept[IllegalArgumentException](
      e.createLakeTable("x", none, format = gdal))
    assert(empty.getMessage.contains("cannot infer"))
  }

  test("options and declarations the fixed-column readers refuse") {
    val dxf = dxfFile.toString
    val header = intercept[IllegalArgumentException](
      e.createLakeTable("x", dxf, format = gdal,
        options = Map("header" -> "false")))
    assert(header.getMessage.contains("DXF does not take a 'header'"))

    val schema = intercept[IllegalArgumentException](
      e.createLakeTable("x", dxf, format = gdal,
        schema = Some(new StructType().add("a", LongType))))
    assert(schema.getMessage.contains("declared schema"))
    intercept[IllegalArgumentException](
      e.createLakeTable("x", dxf, format = gdal,
        options = Map("columns" -> "a int")))
    intercept[IllegalArgumentException](
      e.createLakeTable("x", dxf, format = gdal, filenameColumn = true))

    val log = intercept[IllegalArgumentException](
      e.createLakeTable("x", "/tmp/a.log", format = Some("log"),
        options = Map("log_format" -> "x")))
    assert(log.getMessage.contains("unsupported log_format x"))
  }
}
