package graft

import graft.functions.Geometry
import graft.functions.Geometry._
import graft.sources.FlatGeobuf
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** FlatGeobuf reader against spec-built fixtures. The fixture writer
  * below lays out flatbuffers field-by-field from the PUBLIC format
  * internals (vtables, soffsets, u32 forward offsets, size prefixes) —
  * parents first, children after, so every indirect offset points
  * forward — never using the reader under test.
  */
class FlatGeobufSpec extends AnyFunSuite {

  // ----------------------------------------- tiny flatbuffer writer

  /** Forward-building writer: tables are written before their
    * children; offset fields carry patches resolved when the child's
    * position is known.
    */
  private final class Out {
    val b = ArrayBuffer.empty[Byte]
    def pos: Int = b.length
    def pad(n: Int): Unit = while (b.length % n != 0) b += 0
    def u8(v: Int): Unit = b += v.toByte
    def u16(v: Int): Unit = { b += v.toByte; b += (v >> 8).toByte }
    def u32(v: Int): Unit = (0 until 4).foreach(k => b += (v >> (8 * k)).toByte)
    def u64(v: Long): Unit =
      (0 until 8).foreach(k => b += (v >> (8 * k)).toByte)
    def f64(v: Double): Unit = u64(java.lang.Double.doubleToLongBits(v))
    def patchU32(at: Int, v: Int): Unit =
      (0 until 4).foreach(k => b(at + k) = (v >> (8 * k)).toByte)
    def bytes: Array[Byte] = b.toArray
  }

  private sealed trait Field
  private case class Scalar(write: Out => Unit, size: Int) extends Field
  /** Offset field; `child` writes the target later and returns its pos. */
  private case class Ref(child: Out => Int) extends Field

  private def scalarU8(v: Int) = Scalar(_.u8(v), 1)
  private def scalarU16(v: Int) = Scalar(_.u16(v), 2)
  private def scalarU64(v: Long) = Scalar(_.u64(v), 8)

  /** Write a table (vtable + data) at the current position; offset
    * fields are written as placeholders, children appended after the
    * table, patches applied. Returns the table position.
    */
  private def writeTable(o: Out, fields: Seq[(Int, Field)]): Int = {
    val maxId = fields.map(_._1).max
    o.pad(4)
    val vtPos = o.pos
    val vtLen = 4 + 2 * (maxId + 1)
    o.u16(vtLen)
    // table data layout: soffset(4) then fields in id order
    var dataOff = 4
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    fields.sortBy(_._1).foreach { case (id, f) =>
      val sz = f match { case Scalar(_, s) => s; case _: Ref => 4 }
      while (dataOff % sz != 0) dataOff += 1
      offsets(id) = dataOff
      dataOff += sz
    }
    o.u16(dataOff) // table data size
    (0 to maxId).foreach(id => o.u16(offsets.getOrElse(id, 0)))
    o.pad(4)
    val tPos = o.pos
    o.u32(tPos - vtPos) // soffset: table - vtable (positive)
    val patches = ArrayBuffer.empty[(Int, Out => Int)]
    var cur = 4
    fields.sortBy(_._1).foreach { case (id, f) =>
      while (cur < offsets(id)) { o.u8(0); cur += 1 }
      f match {
        case Scalar(w, s) => w(o); cur += s
        case Ref(child) =>
          patches += ((o.pos, child)); o.u32(0); cur += 4
      }
    }
    patches.foreach { case (at, child) =>
      val target = child(o)
      o.patchU32(at, target - at)
    }
    tPos
  }

  private def writeString(o: Out, s: String): Int = {
    o.pad(4)
    val p = o.pos
    val by = s.getBytes("UTF-8")
    o.u32(by.length); by.foreach(o.b += _); o.u8(0)
    p
  }

  private def writeDoubleVec(o: Out, vs: Seq[Double]): Int = {
    o.pad(8)
    // length prefix must sit directly before the 8-aligned elements
    if (o.pos % 8 == 0) (0 until 4).foreach(_ => o.u8(0))
    val p = o.pos
    o.u32(vs.length)
    vs.foreach(o.f64)
    p
  }

  private def writeU32Vec(o: Out, vs: Seq[Int]): Int = {
    o.pad(4)
    val p = o.pos
    o.u32(vs.length)
    vs.foreach(o.u32)
    p
  }

  /** Vector of tables: u32 offsets to children written after. */
  private def writeTableVec(o: Out,
      children: Seq[Out => Int]): Int = {
    o.pad(4)
    val p = o.pos
    o.u32(children.length)
    val slots = children.map { _ => val s = o.pos; o.u32(0); s }
    slots.zip(children).foreach { case (slot, child) =>
      val t = child(o)
      o.patchU32(slot, t - slot)
    }
    p
  }

  // -------------------------------------------------- fgb assembly

  /** Size-prefixed flatbuffer: [u32 size][u32 root offset][...]. */
  private def sizePrefixed(build: Out => Int): Array[Byte] = {
    val o = new Out
    o.u32(0) // size placeholder
    val rootSlot = o.pos
    o.u32(0) // root offset placeholder
    val root = build(o)
    o.patchU32(rootSlot, root - rootSlot)
    o.patchU32(0, o.pos - 4)
    o.bytes
  }

  private def header(geomType: Int, columns: Seq[(String, Int)],
      count: Long): Array[Byte] =
    sizePrefixed { o =>
      writeTable(o, Seq(
        0 -> Ref(oo => writeString(oo, "layer1")),
        2 -> scalarU8(geomType),
        7 -> Ref(oo => writeTableVec(oo, columns.map { case (n, t) =>
          (o2: Out) => writeTable(o2, Seq(
            0 -> Ref(o3 => writeString(o3, n)),
            1 -> scalarU8(t)))
        })),
        8 -> scalarU64(count),
        9 -> scalarU16(0))) // no index
    }

  private def propBytes(write: Out => Unit): Array[Byte] = {
    val o = new Out; write(o); o.bytes
  }

  private def feature(geomFields: Seq[(Int, Field)],
      props: Array[Byte]): Array[Byte] =
    sizePrefixed { o =>
      writeTable(o, Seq(
        0 -> Ref(oo => writeTable(oo, geomFields)),
        1 -> Ref { oo =>
          oo.pad(4)
          val p = oo.pos
          oo.u32(props.length)
          props.foreach(oo.b += _)
          p
        }))
    }

  private def fgb(headerBytes: Array[Byte],
      featureBytes: Seq[Array[Byte]]): Array[Byte] = {
    val magic = Array[Byte](0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x00)
    magic ++ headerBytes ++ featureBytes.flatten
  }

  // ---------------------------------------------------------- tests

  test("points with typed properties roundtrip") {
    val head = header(1, Seq(("name", 11), ("pop", 7), ("score", 10),
      ("ok", 2)), 2)
    val f1 = feature(
      Seq(1 -> Ref(o => writeDoubleVec(o, Seq(13.4, 52.5)))),
      propBytes { o =>
        o.u16(0); val n = "berlin".getBytes("UTF-8")
        o.u32(n.length); n.foreach(o.b += _)
        o.u16(1); o.u64(3700000L)
        o.u16(2); o.f64(1.5)
        o.u16(3); o.u8(1)
      })
    val f2 = feature(
      Seq(1 -> Ref(o => writeDoubleVec(o, Seq(-3.0, 40.4)))),
      propBytes { o =>
        o.u16(0); val n = "madrid".getBytes("UTF-8")
        o.u32(n.length); n.foreach(o.b += _)
        o.u16(3); o.u8(0)
      })
    val rows = FlatGeobuf.features(fgb(head, Seq(f1, f2)))
    assert(rows.length == 2)
    val byName = rows.map(r => r._3("name") -> r).toMap
    assert(parseWkb(byName("berlin")._1) == GPoint(Some(Pt(13.4, 52.5))))
    assert(byName("berlin")._2 == "ST_Point")
    assert(byName("berlin")._3 == Map("name" -> "berlin",
      "pop" -> "3700000", "score" -> "1.5", "ok" -> "true"))
    assert(byName("madrid")._3("ok") == "false")
  }

  test("polygon with hole, multilinestring via ends, multipolygon parts") {
    val head = header(0, Seq.empty, 3) // per-feature geometry types
    val poly = feature(Seq(
      0 -> Ref(o => writeU32Vec(o, Seq(5, 10))),
      1 -> Ref(o => writeDoubleVec(o, Seq(
        0, 0, 6, 0, 6, 6, 0, 6, 0, 0, // outer (5 pts)
        2, 2, 4, 2, 4, 4, 2, 4, 2, 2))), // hole (5 pts)
      6 -> scalarU8(3)), Array.emptyByteArray)
    val mline = feature(Seq(
      0 -> Ref(o => writeU32Vec(o, Seq(2, 5))),
      1 -> Ref(o => writeDoubleVec(o, Seq(
        0, 0, 3, 4, // path 1
        10, 0, 11, 0, 11, 1))), // path 2
      6 -> scalarU8(5)), Array.emptyByteArray)
    val mpoly = feature(Seq(
      6 -> scalarU8(6),
      7 -> Ref(o => writeTableVec(o, Seq(
        (oo: Out) => writeTable(oo, Seq(
          1 -> Ref(o3 => writeDoubleVec(o3,
            Seq(0, 0, 1, 0, 1, 1, 0, 1, 0, 0))),
          6 -> scalarU8(3))),
        (oo: Out) => writeTable(oo, Seq(
          1 -> Ref(o3 => writeDoubleVec(o3,
            Seq(5, 5, 7, 5, 7, 7, 5, 7, 5, 5))),
          6 -> scalarU8(3))))))), Array.emptyByteArray)
    val rows = FlatGeobuf.features(fgb(head, Seq(poly, mline, mpoly)))
    assert(rows.map(_._2) ==
      Seq("ST_Polygon", "ST_MultiLineString", "ST_MultiPolygon"))
    assert(math.abs(Geometry.area(parseWkb(rows(0)._1)) - 32.0) < 1e-12)
    assert(math.abs(Geometry.length(parseWkb(rows(1)._1)) - 7.0) < 1e-12)
    assert(math.abs(Geometry.area(parseWkb(rows(2)._1)) - 5.0) < 1e-12)
  }

  test("feature-level columns vector overrides the header schema") {
    // header says (name: String); the feature carries its OWN columns
    // table (count: Long) in Feature field 2, which per the spec
    // overrides the header for that feature's property stream
    val head = header(1, Seq(("name", 11)), 1)
    val props = propBytes { p => p.u16(0); p.u64(42L) }
    val f = sizePrefixed { o =>
      writeTable(o, Seq(
        0 -> Ref(oo => writeTable(oo,
          Seq(1 -> Ref(o3 => writeDoubleVec(o3, Seq(1.0, 2.0)))))),
        1 -> Ref { oo =>
          oo.pad(4)
          val p = oo.pos
          oo.u32(props.length)
          props.foreach(oo.b += _)
          p
        },
        2 -> Ref(oo => writeTableVec(oo, Seq(
          (o2: Out) => writeTable(o2, Seq(
            0 -> Ref(o3 => writeString(o3, "count")),
            1 -> scalarU8(7))))))))
    }
    val rows = FlatGeobuf.features(fgb(head, Seq(f)))
    assert(rows.length == 1)
    assert(rows.head._3 == Map("count" -> "42"))
  }

  test("index is skipped exactly; engine scan; refusals") {
    // indexSize: the spec's level arithmetic
    assert(FlatGeobuf.indexSize(1, 16) == 40)
    assert(FlatGeobuf.indexSize(16, 16) == 17 * 40)
    assert(FlatGeobuf.indexSize(17, 16) == (17 + 2 + 1) * 40)
    // a file WITH an index: same fixture plus a dummy R-tree blob
    val headIdx = {
      // node_size 16, 2 features -> 3 nodes of 40 bytes
      sizePrefixed { o =>
        writeTable(o, Seq(
          2 -> scalarU8(1),
          8 -> scalarU64(2),
          9 -> scalarU16(16)))
      }
    }
    val f = feature(
      Seq(1 -> Ref(o => writeDoubleVec(o, Seq(1.0, 2.0)))),
      Array.emptyByteArray)
    val magic = Array[Byte](0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x00)
    val withIdx = magic ++ headIdx ++
      new Array[Byte](FlatGeobuf.indexSize(2, 16).toInt) ++ f ++ f
    val rows = FlatGeobuf.features(withIdx)
    assert(rows.length == 2 &&
      parseWkb(rows.head._1) == GPoint(Some(Pt(1.0, 2.0))))

    // distributed scan through the engine
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("fgb")
    Files.write(dir.resolve("a.fgb"), withIdx)
    val df = LakeEngine(spark).createLakeTable("fgb_t", dir.toString,
      format = Some("gdal"))
    assert(df.count() == 2)
    graft.functions.SpatialFunctions.register(spark)
    assert(spark.sql(
      "SELECT sum(st_y(st_geomfromwkb(geometry))) FROM fgb_t")
      .head().getDouble(0) == 4.0)

    // bad magic refuses
    intercept[IllegalArgumentException] {
      FlatGeobuf.features("nope".getBytes ++ new Array[Byte](20))
    }
    // Z dimension refuses
    val zHead = sizePrefixed { o =>
      writeTable(o, Seq(2 -> scalarU8(1), 3 -> Scalar(_.u8(1), 1),
        9 -> scalarU16(0)))
    }
    intercept[IllegalArgumentException] {
      FlatGeobuf.features(magic ++ zHead)
    }
  }
}
