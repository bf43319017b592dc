package graft

import graft.functions.Geometry
import graft.functions.Geometry._
import graft.sources.Shapefile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The shapefile reader against spec-built byte fixtures — the same
  * differential stance as the PPM/WAV decoders: fixtures are written
  * field-by-field from the ESRI Shapefile Technical Description and
  * the dBase III layout, never by the reader under test.
  */
class ShapefileSpec extends AnyFunSuite {

  // ------------------------------------------------ fixture writers

  private def shpFile(contents: Seq[Array[Byte]]): Array[Byte] = {
    val total = 100 + contents.map(_.length + 8).sum
    val buf = ByteBuffer.allocate(total)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(0, 9994)
    buf.putInt(24, total / 2) // length in 16-bit words
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(28, 1000)
    buf.putInt(32, 1) // file-level shape type (informational)
    var off = 100
    contents.zipWithIndex.foreach { case (c, i) =>
      buf.order(ByteOrder.BIG_ENDIAN)
      buf.putInt(off, i + 1)
      buf.putInt(off + 4, c.length / 2)
      var k = 0
      while (k < c.length) { buf.put(off + 8 + k, c(k)); k += 1 }
      off += 8 + c.length
    }
    buf.array()
  }

  private def pointRec(x: Double, y: Double): Array[Byte] = {
    val b = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(1); b.putDouble(x); b.putDouble(y)
    b.array()
  }

  private def partsRec(shapeType: Int,
      parts: Seq[Seq[(Double, Double)]]): Array[Byte] = {
    val n = parts.map(_.length).sum
    val b = ByteBuffer.allocate(44 + 4 * parts.length + 16 * n)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(shapeType)
    val xs = parts.flatten.map(_._1); val ys = parts.flatten.map(_._2)
    b.putDouble(xs.min); b.putDouble(ys.min)
    b.putDouble(xs.max); b.putDouble(ys.max)
    b.putInt(parts.length); b.putInt(n)
    parts.scanLeft(0)(_ + _.length).dropRight(1).foreach(b.putInt)
    parts.flatten.foreach { case (x, y) => b.putDouble(x); b.putDouble(y) }
    b.array()
  }

  private def zRec(): Array[Byte] = {
    val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(11) // PointZ
    b.array()
  }

  private def dbfFile(fields: Seq[(String, Char, Int)],
      rows: Seq[Option[Seq[String]]],
      cs: java.nio.charset.Charset = US_ASCII,
      ldid: Int = 0): Array[Byte] = {
    val headerSize = 32 + 32 * fields.length + 1
    val recordSize = 1 + fields.map(_._3).sum
    val buf = ByteBuffer.allocate(headerSize + recordSize * rows.length + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(0, 0x03.toByte)
    buf.putInt(4, rows.length)
    buf.putShort(8, headerSize.toShort)
    buf.putShort(10, recordSize.toShort)
    buf.put(29, ldid.toByte)
    fields.zipWithIndex.foreach { case ((name, typ, len), i) =>
      val off = 32 + 32 * i
      val nb = name.getBytes(US_ASCII)
      nb.take(10).zipWithIndex.foreach { case (c, k) => buf.put(off + k, c) }
      buf.put(off + 11, typ.toByte)
      buf.put(off + 16, len.toByte)
    }
    buf.put(32 + 32 * fields.length, 0x0d.toByte)
    rows.zipWithIndex.foreach { case (row, r) =>
      val base = headerSize + r * recordSize
      buf.put(base, (if (row.isDefined) 0x20 else 0x2a).toByte)
      var off = base + 1
      val vals = row.getOrElse(Seq.fill(fields.length)(""))
      fields.zip(vals).foreach { case ((_, _, len), v) =>
        val enc = v.getBytes(cs)
        val padded = enc.padTo(len, ' '.toByte).take(len)
        padded.zipWithIndex.foreach { case (c, k) => buf.put(off + k, c) }
        off += len
      }
    }
    buf.array()
  }

  // --------------------------------------------------------- tests

  test("points with dbf attributes roundtrip; deleted rows skipped") {
    val shp = shpFile(Seq(
      pointRec(1.5, 2.5), pointRec(-3.0, 4.0), pointRec(10.0, 20.0)))
    val dbf = dbfFile(
      Seq(("NAME", 'C', 8), ("POP", 'N', 6), ("FLAG", 'L', 1)),
      Seq(Some(Seq("alpha", "  1200", "T")),
        None, // deleted: its geometry must be skipped in lockstep
        Some(Seq("gamma", "    77", "F"))))
    val rows = Shapefile.records(shp, Some(dbf))
    assert(rows.length == 2)
    val g0 = parseWkb(rows.head._1)
    assert(g0 == GPoint(Some(Pt(1.5, 2.5))))
    assert(rows.head._2 == "ST_Point")
    assert(rows.head._3 == Map(
      "NAME" -> "alpha", "POP" -> "1200", "FLAG" -> "true"))
    assert(parseWkb(rows(1)._1) == GPoint(Some(Pt(10.0, 20.0))))
    assert(rows(1)._3("FLAG") == "false")
  }

  test("polygon ring grouping: CW outer, CCW hole; multi-part lines") {
    // outer ring CW (spec), hole CCW, both closed
    val outer = Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0),
      (0.0, 0.0))
    val hole = Seq((2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0),
      (2.0, 2.0))
    val shp = shpFile(Seq(
      partsRec(5, Seq(outer, hole)),
      partsRec(3, Seq(
        Seq((0.0, 0.0), (1.0, 1.0)), Seq((5.0, 5.0), (6.0, 5.0), (7.0, 6.0))))))
    val geoms = Shapefile.parseShp(shp)
    assert(geoms.length == 2)
    val poly = geoms.head.asInstanceOf[GPolygon]
    assert(poly.rings.length == 2)
    assert(math.abs(Geometry.area(poly) - (100.0 - 4.0)) < 1e-12)
    assert(locateInPolygon(poly.rings, Pt(3.0, 3.0)) == 0) // in the hole
    assert(locateInPolygon(poly.rings, Pt(8.0, 8.0)) == 2)
    val ml = geoms(1).asInstanceOf[GMultiLine]
    assert(ml.lines.length == 2 &&
      math.abs(Geometry.length(ml) -
        (math.sqrt(2) + 1 + math.sqrt(2))) < 1e-12)
  }

  test("two CW outers with a hole each attach correctly") {
    def sq(x: Double, s: Double) = // CW square at (x,0)
      Seq((x, 0.0), (x, s), (x + s, s), (x + s, 0.0), (x, 0.0))
    def holeIn(x: Double) = // CCW unit hole inside
      Seq((x + 1, 1.0), (x + 2, 1.0), (x + 2, 2.0), (x + 1, 2.0),
        (x + 1, 1.0))
    val shp = shpFile(Seq(
      partsRec(5, Seq(sq(0, 4), sq(10, 4), holeIn(10), holeIn(0)))))
    val g = Shapefile.parseShp(shp).head.asInstanceOf[GMultiPolygon]
    assert(g.polys.length == 2)
    assert(g.polys.forall(_.length == 2)) // each outer got its hole
    assert(math.abs(Geometry.area(g) - (16 + 16 - 1 - 1)) < 1e-12)
  }

  test("zip member extraction and distributed read") {
    val spark = SparkTestSession.spark
    val shp = shpFile(Seq(pointRec(7.0, 8.0), pointRec(9.0, 10.0)))
    val dbf = dbfFile(Seq(("ID", 'N', 4)),
      Seq(Some(Seq("   1")), Some(Seq("   2"))))
    val dir = Files.createTempDirectory("shp")
    // plain .shp + .dbf siblings
    Files.write(dir.resolve("a.shp"), shp)
    Files.write(dir.resolve("a.dbf"), dbf)
    // zipped variant of the same layer
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("layer/b.shp")); z.write(shp)
    z.putNextEntry(new java.util.zip.ZipEntry("layer/b.dbf")); z.write(dbf)
    z.close()
    Files.write(dir.resolve("b.zip"), bos.toByteArray)

    val df = new LakeEngine(spark).createLakeTable(
      "shape_t", dir.toString, format = Some("gdal"))
    assert(df.count() == 4) // both files, two records each
    val ids = df.selectExpr("attributes['ID']").collect()
      .map(_.getString(0)).sorted.toSeq
    assert(ids == Seq("1", "1", "2", "2"))
    // the WKB column feeds st_* directly
    graft.functions.SpatialFunctions.register(spark)
    val xs = spark.sql(
      "SELECT st_x(st_geomfromwkb(geometry)) FROM shape_t ORDER BY 1")
      .collect().map(_.getDouble(0)).toSeq
    assert(xs == Seq(7.0, 7.0, 9.0, 9.0))
  }

  test("dbf attribute charset: cpg sidecar, LDID byte, cp1252 default") {
    val cs1252 = java.nio.charset.Charset.forName("windows-1252")
    val shp = shpFile(Seq(pointRec(0, 0)))
    // no hints at all: cp1252 default decodes é (0xE9) correctly
    val d0 = dbfFile(Seq(("NAME", 'C', 8)), Seq(Some(Seq("café"))),
      cs = cs1252)
    assert(Shapefile.records(shp, Some(d0)).head._3("NAME") == "café")
    // .cpg sidecar says UTF-8: multibyte text survives
    val dUtf = dbfFile(Seq(("NAME", 'C', 12)), Seq(Some(Seq("東京"))),
      cs = java.nio.charset.StandardCharsets.UTF_8)
    assert(Shapefile.records(shp, Some(dUtf), Some("UTF-8"))
      .head._3("NAME") == "東京")
    // LDID 0x65 (Cyrillic) without a .cpg: windows-1251
    val cs1251 = java.nio.charset.Charset.forName("windows-1251")
    val dCyr = dbfFile(Seq(("NAME", 'C', 8)), Seq(Some(Seq("Москва"))),
      cs = cs1251, ldid = 0x65)
    assert(Shapefile.records(shp, Some(dCyr)).head._3("NAME") == "Москва")
    // numeric .cpg spelling ("1252")
    assert(Shapefile.records(shp, Some(d0), Some("1252"))
      .head._3("NAME") == "café")
  }

  test("z/m shape types and corrupt files refuse loudly") {
    intercept[UnsupportedOperationException] {
      Shapefile.parseShp(shpFile(Seq(zRec())))
    }
    intercept[IllegalArgumentException] {
      Shapefile.parseShp("nope".getBytes ++ new Array[Byte](100))
    }
  }
}
