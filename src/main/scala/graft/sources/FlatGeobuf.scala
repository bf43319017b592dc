package graft.sources

import graft.functions.Geometry
import graft.functions.Geometry._
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Native FlatGeobuf scan — the last binary row of the reference's
  * GDAL format table (docs/file-formats-reference.md:102-125, `.fgb`).
  * Both layers of the format are public and frozen, so the reader is
  * implemented from the specs with the JDK alone, like the
  * Shapefile/GeoPackage readers:
  *
  *   - the CONTAINER (flatgeobuf.org spec v3): 8-byte magic
  *     `fgb\x03fgb\x00`, a size-prefixed flatbuffer Header, an
  *     optional packed Hilbert R-tree (skipped — 40 bytes per node,
  *     node count derived from features_count/node_size exactly as the
  *     spec's level arithmetic), then size-prefixed flatbuffer Feature
  *     records;
  *   - FLATBUFFERS itself (google flatbuffers internals): tables hold
  *     an int32 soffset to their vtable (u16 vtable size, u16 table
  *     size, u16 field offsets by field id), scalars are inline,
  *     strings/vectors/tables are u32 forward offsets, vectors carry a
  *     u32 length prefix.
  *
  * Geometries decode from the header-level (or per-feature) type +
  * `xy`/`ends`/`parts`: ends are exclusive vertex indices splitting
  * rings/paths; multi-part types nest via `parts`. Z/M dimensions
  * refuse loudly. Properties are the spec's packed
  * `(u16 column index, value)` stream against the header's column
  * table; all values surface textually — the same contract as the
  * GeoJSON/Shapefile/GeoPackage sources.
  *
  * Scale shape: one task per FILE (features are size-prefixed records
  * with no global offsets, so a file COULD be split after the index,
  * but record boundaries still need sequential walking); a directory
  * of .fgb files parallelizes like any file source.
  */
object FlatGeobuf {

  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    SerializableHadoopConf.perFile(spark, path, Seq(".fgb")) { (fs, p) =>
      features(SerializableHadoopConf.readAll(fs, p)).map {
        case (wkb, gt, attrs) => (wkb, gt, attrs, p.toString)
      }
    }.toDF("geometry", "geom_type", "attributes", "filename")
  }

  // ------------------------------------------- flatbuffers primitives

  /** Read-only flatbuffer table view (absolute positions, no state). */
  private final class FbTable(bytes: Array[Byte], bb: ByteBuffer,
      val pos: Int) {
    private val vt = pos - bb.getInt(pos)
    private val vtSize = bb.getShort(vt) & 0xffff
    private def off(id: Int): Int = {
      val o = 4 + 2 * id
      if (o + 2 > vtSize) 0 else bb.getShort(vt + o) & 0xffff
    }
    def ubyte(id: Int, dflt: Int): Int = off(id) match {
      case 0 => dflt; case f => bb.get(pos + f) & 0xff
    }
    def bool(id: Int, dflt: Boolean): Boolean = off(id) match {
      case 0 => dflt; case f => bb.get(pos + f) != 0
    }
    def ushort(id: Int, dflt: Int): Int = off(id) match {
      case 0 => dflt; case f => bb.getShort(pos + f) & 0xffff
    }
    def ulong(id: Int, dflt: Long): Long = off(id) match {
      case 0 => dflt; case f => bb.getLong(pos + f)
    }
    private def indirect(f: Int): Int = {
      val p = pos + f; p + bb.getInt(p)
    }
    def table(id: Int): Option[FbTable] = off(id) match {
      case 0 => None
      case f => Some(new FbTable(bytes, bb, indirect(f)))
    }
    def string(id: Int): Option[String] = off(id) match {
      case 0 => None
      case f =>
        val v = indirect(f)
        Some(new String(bytes, v + 4, bb.getInt(v), UTF_8))
    }
    /** (first element position, element count). */
    def vector(id: Int): Option[(Int, Int)] = off(id) match {
      case 0 => None
      case f => val v = indirect(f); Some((v + 4, bb.getInt(v)))
    }
    /** Table-vector element i (elements are u32 offsets). */
    def tableAt(elems: Int, i: Int): FbTable = {
      val p = elems + 4 * i
      new FbTable(bytes, bb, p + bb.getInt(p))
    }
  }

  // ----------------------------------------------------------- header

  private val Magic = Array[Byte](0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62)

  private final case class Column(name: String, typ: Int)

  /** Decode all features of one .fgb byte image. */
  def features(bytes: Array[Byte])
      : Seq[(Array[Byte], String, Map[String, String])] = {
    require(bytes.length > 12 &&
      (0 until 7).forall(i => bytes(i) == Magic(i)),
      "not a FlatGeobuf file (bad magic or unsupported major version)")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val headerSize = bb.getInt(8)
    val header = new FbTable(bytes, bb, 12 + bb.getInt(12))
    val defaultType = header.ubyte(2, 0)
    require(!header.bool(3, false) && !header.bool(4, false) &&
      !header.bool(5, false) && !header.bool(6, false),
      "FlatGeobuf Z/M/T dimensions unsupported")
    val columns: IndexedSeq[Column] = header.vector(7) match {
      case None => Vector.empty
      case Some((elems, n)) => (0 until n).map { i =>
        val c = header.tableAt(elems, i)
        Column(c.string(0).getOrElse(s"col$i"), c.ubyte(1, 0))
      }
    }
    val featuresCount = header.ulong(8, 0L)
    val nodeSize = header.ushort(9, 16)
    var off = 12L + headerSize
    // skip the packed Hilbert R-tree (present iff node size > 0 and
    // the feature count was known at write time)
    if (nodeSize > 0 && featuresCount > 0)
      off += indexSize(featuresCount, nodeSize)
    val out = ArrayBuffer.empty[(Array[Byte], String, Map[String, String])]
    while (off + 4 <= bytes.length) {
      val fSize = bb.getInt(off.toInt)
      require(fSize > 0 && off + 4 + fSize <= bytes.length,
        s"corrupt feature record at offset $off")
      val fPos = off.toInt + 4
      val f = new FbTable(bytes, bb, fPos + bb.getInt(fPos))
      val g = f.table(0).map(decodeGeometry(_, bb, defaultType))
        .getOrElse(GCollection(Vector.empty))
      // a Feature may carry its own columns vector (field 2), which per
      // the spec overrides the header columns for that feature's
      // property stream
      val fColumns = f.vector(2) match {
        case None => columns
        case Some((elems, n)) => (0 until n).map { i =>
          val c = f.tableAt(elems, i)
          Column(c.string(0).getOrElse(s"col$i"), c.ubyte(1, 0))
        }
      }
      val props = f.vector(1) match {
        case None => Map.empty[String, String]
        case Some((start, len)) =>
          decodeProps(bytes, bb, start, len, fColumns)
      }
      out += ((toWkb(g), Geometry.geometryType(g), props))
      off += 4 + fSize
    }
    require(featuresCount == 0 || out.length == featuresCount,
      s"header declares $featuresCount features but ${out.length} decoded")
    out.toSeq
  }

  /** Packed-R-tree byte size, the spec's level arithmetic: 40-byte
    * nodes, levels of ceil(n/nodeSize) up to the root.
    */
  private[graft] def indexSize(numItems: Long, nodeSize: Int): Long = {
    require(nodeSize >= 2, s"invalid index node size $nodeSize")
    var n = numItems
    var numNodes = n
    while (n != 1) {
      n = (n + nodeSize - 1) / nodeSize
      numNodes += n
    }
    numNodes * 40
  }

  // --------------------------------------------------------- geometry

  private def decodeGeometry(g: FbTable, bb: ByteBuffer,
      dflt: Int): Geom = {
    val t = g.ubyte(6, 0) match { case 0 => dflt; case x => x }
    def xy: IndexedSeq[Pt] = g.vector(1) match {
      case None => Vector.empty
      case Some((s, n)) =>
        require(n % 2 == 0, s"odd xy length $n")
        (0 until n / 2).map(i =>
          Pt(bb.getDouble(s + 16 * i), bb.getDouble(s + 16 * i + 8)))
    }
    def ends: IndexedSeq[Int] = g.vector(0) match {
      case None => Vector.empty
      case Some((s, n)) => (0 until n).map(i => bb.getInt(s + 4 * i))
    }
    def split(pts: IndexedSeq[Pt]): IndexedSeq[IndexedSeq[Pt]] = {
      val es = if (ends.isEmpty) Vector(pts.length) else ends
      es.foldLeft((Vector.empty[IndexedSeq[Pt]], 0)) {
        case ((acc, from), end) => (acc :+ pts.slice(from, end), end)
      }._1
    }
    def parts: IndexedSeq[FbTable] = g.vector(7) match {
      case None => Vector.empty
      case Some((elems, n)) => (0 until n).map(i => g.tableAt(elems, i))
    }
    t match {
      case 1 => GPoint(xy.headOption)
      case 2 => GLine(xy)
      case 3 => GPolygon(split(xy).toVector)
      case 4 => GMultiPoint(xy)
      case 5 => GMultiLine(split(xy))
      case 6 =>
        val ps = parts
        if (ps.isEmpty) GMultiPolygon(Vector(split(xy).toVector))
        else GMultiPolygon(ps.map(p =>
          decodeGeometry(p, bb, 3) match {
            case GPolygon(rs, _) => rs.toVector
            case other => throw new IllegalArgumentException(
              s"MultiPolygon part decoded as ${Geometry.geometryType(other)}")
          }).toVector)
      case 7 => GCollection(parts.map(decodeGeometry(_, bb, 0)))
      case other => throw new UnsupportedOperationException(
        s"FlatGeobuf geometry type $other unsupported")
    }
  }

  // ------------------------------------------------------- properties

  /** Packed `(u16 column index, value)` stream; values surface
    * textually (binary as hex, same contract as GeoPackage).
    */
  private def decodeProps(bytes: Array[Byte], bb: ByteBuffer, start: Int,
      len: Int, columns: IndexedSeq[Column]): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    var p = start
    val end = start + len
    while (p < end) {
      val ci = bb.getShort(p) & 0xffff
      p += 2
      require(ci < columns.length, s"property column index $ci out of range")
      val Column(name, typ) = columns(ci)
      typ match {
        case 0 => m += name -> bb.get(p).toString; p += 1 // Byte
        case 1 => m += name -> (bb.get(p) & 0xff).toString; p += 1 // UByte
        case 2 => m += name -> (bb.get(p) != 0).toString; p += 1 // Bool
        case 3 => m += name -> bb.getShort(p).toString; p += 2 // Short
        case 4 => m += name -> (bb.getShort(p) & 0xffff).toString; p += 2
        case 5 => m += name -> bb.getInt(p).toString; p += 4 // Int
        case 6 => m += name -> (bb.getInt(p) & 0xffffffffL).toString; p += 4
        case 7 => m += name -> bb.getLong(p).toString; p += 8 // Long
        case 8 => // ULong
          m += name -> java.lang.Long.toUnsignedString(bb.getLong(p))
          p += 8
        case 9 => m += name -> bb.getFloat(p).toString; p += 4 // Float
        case 10 => m += name -> bb.getDouble(p).toString; p += 8 // Double
        case 11 | 12 | 13 => // String | Json | DateTime
          val n = bb.getInt(p); p += 4
          m += name -> new String(bytes, p, n, UTF_8); p += n
        case 14 => // Binary -> hex
          val n = bb.getInt(p); p += 4
          m += name -> bytes.slice(p, p + n).map("%02x".format(_)).mkString
          p += n
        case other => throw new UnsupportedOperationException(
          s"FlatGeobuf column type $other unsupported")
      }
    }
    m.result()
  }
}
