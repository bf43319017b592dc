package graft.sources

import graft.functions.Geometry
import graft.functions.Geometry._
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.Charset
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Native ESRI Shapefile scan (SURVEY.md §2.1 "GDAL/geo scan",
  * docs/file-formats-reference.md:96-140). The reference reads
  * shapefiles through GDAL; GDAL does not exist in this environment,
  * but the format itself is a fully-documented pure byte layout (ESRI
  * Shapefile Technical Description, 1998) — so, exactly like the
  * PPM/WAV decoders, the reader is implemented from the public spec:
  *
  *   - `.shp` geometry records (Null/Point/MultiPoint/PolyLine/
  *     Polygon; measured/Z variants refuse loudly) decode to the same
  *     WKB rows the GeoJSON source emits;
  *   - the sibling `.dbf` (dBase III) supplies per-record attributes
  *     as a `map<string,string>` (values kept textual — same contract
  *     as GeoJSON `properties`); deleted rows are skipped in lockstep;
  *   - a `.zip` containing both members (the shape a real user
  *     downloads) is unpacked in memory.
  *
  * Polygon ring grouping follows the spec: outer rings are CLOCKWISE,
  * holes counter-clockwise; each hole attaches to the outer ring that
  * contains its first vertex.
  *
  * Scale shape: one task per FILE (a .shp has no intra-file split
  * point without the .shx index — and record boundaries still need
  * sequential walking); a directory of shapefiles parallelizes like
  * any file source. Bytes are read inside executors.
  */
object Shapefile {

  /** Read `.shp` / `.zip` path(s) (file, directory, or glob) into
    * rows of `(geometry wkb, geom_type, attributes, filename)`.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    SerializableHadoopConf.perFile(spark, path, Seq(".shp", ".zip")) {
      (f, p) =>
        def readAll(pp: org.apache.hadoop.fs.Path) =
          SerializableHadoopConf.readAll(f, pp)
        val file = p.toString
        val (shp, dbf, cpg) =
          if (file.toLowerCase.endsWith(".zip")) unzip(readAll(p))
          else {
            def sib(ext: String) = new org.apache.hadoop.fs.Path(
              file.replaceAll("(?i)\\.shp$", ext))
            val dbfP = sib(".dbf")
            val cpgP = sib(".cpg")
            (readAll(p),
              if (f.exists(dbfP)) Some(readAll(dbfP)) else None,
              if (f.exists(cpgP))
                Some(new String(readAll(cpgP), Charset.forName("US-ASCII")))
              else None)
          }
        records(shp, dbf, cpg).map { case (wkb, gtype, attrs) =>
          (wkb, gtype, attrs, file)
        }
    }.toDF("geometry", "geom_type", "attributes", "filename")
  }

  /** Decode one shapefile (+ optional dbf, optional .cpg charset hint)
    * into per-record rows.
    */
  def records(shp: Array[Byte], dbf: Option[Array[Byte]],
      cpg: Option[String] = None)
      : Seq[(Array[Byte], String, Map[String, String])] = {
    val geoms = parseShp(shp)
    val attrs = dbf.map(b => parseDbf(b, cpg)).getOrElse(
      Seq.fill(geoms.length)(Some(Map.empty[String, String])))
    require(attrs.length == geoms.length,
      s"shp has ${geoms.length} records but dbf has ${attrs.length}")
    geoms.zip(attrs).collect {
      // a None attribute row is a dbf-deleted record: skip in lockstep
      case (g, Some(a)) => (toWkb(g), Geometry.geometryType(g), a)
    }
  }

  /** .zip bytes -> (.shp member, optional .dbf, optional .cpg text). */
  private[sources] def unzip(bytes: Array[Byte])
      : (Array[Byte], Option[Array[Byte]], Option[String]) = {
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    var shp: Array[Byte] = null
    var dbf: Option[Array[Byte]] = None
    var cpg: Option[String] = None
    var e = zin.getNextEntry
    while (e != null) {
      val n = e.getName.toLowerCase
      if (!n.startsWith("__macosx") && !e.isDirectory) {
        if (n.endsWith(".shp")) shp = zin.readAllBytes()
        else if (n.endsWith(".dbf")) dbf = Some(zin.readAllBytes())
        else if (n.endsWith(".cpg"))
          cpg = Some(new String(zin.readAllBytes(),
            Charset.forName("US-ASCII")))
      }
      e = zin.getNextEntry
    }
    require(shp != null, "zip contains no .shp member")
    (shp, dbf, cpg)
  }

  // ---------------------------------------------------------------- .shp

  def parseShp(bytes: Array[Byte]): IndexedSeq[Geom] = {
    require(bytes.length >= 100, "shp too short for its 100-byte header")
    val be = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    require(be.getInt(0) == 9994, "not a shapefile (bad magic)")
    val fileLenBytes = be.getInt(24).toLong * 2
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(le.getInt(28) == 1000, "unsupported shapefile version")
    val out = ArrayBuffer.empty[Geom]
    var off = 100L
    val end = math.min(fileLenBytes, bytes.length.toLong)
    while (off + 8 <= end) {
      val contentWords = be.getInt(off.toInt + 4)
      require(contentWords >= 0 && off + 8 + contentWords.toLong * 2 <= end,
        s"corrupt record length at offset $off")
      out += parseRecord(le, off.toInt + 8)
      off += 8 + contentWords.toLong * 2
    }
    out.toIndexedSeq
  }

  private def parseRecord(le: ByteBuffer, base: Int): Geom = {
    def d(o: Int) = le.getDouble(base + o)
    def i(o: Int) = le.getInt(base + o)
    i(0) match {
      case 0 => GPoint(None) // Null shape: empty row, keeps dbf alignment
      case 1 => GPoint(Some(Pt(d(4), d(12))))
      case 8 => // MultiPoint: bbox + count + points
        val n = i(36)
        GMultiPoint((0 until n).map(k =>
          Pt(d(40 + 16 * k), d(48 + 16 * k))))
      case 3 | 5 => // PolyLine | Polygon: bbox + parts + points
        val numParts = i(36)
        val numPoints = i(40)
        val partsOff = 44
        val ptsOff = partsOff + 4 * numParts
        val starts = (0 until numParts).map(k => i(partsOff + 4 * k))
        val pts = (0 until numPoints).map(k =>
          Pt(d(ptsOff + 16 * k), d(ptsOff + 8 + 16 * k)))
        val parts = starts.zip(starts.drop(1) :+ numPoints)
          .map { case (s, e) => pts.slice(s, e) }
        if (i(0) == 3) {
          if (parts.length == 1) GLine(parts.head)
          else GMultiLine(parts)
        } else groupRings(parts)
      case t if Set(11, 13, 15, 18, 21, 23, 25, 28).contains(t) =>
        throw new UnsupportedOperationException(
          s"shapefile shape type $t (Z/M variants) not supported")
      case t => throw new IllegalArgumentException(
        s"unknown shapefile shape type $t")
    }
  }

  /** Spec ring grouping: outer rings CW, holes CCW; each hole attaches
    * to the outer ring containing its first vertex.
    */
  private def groupRings(rings: Seq[IndexedSeq[Pt]]): Geom = {
    def signedArea(r: IndexedSeq[Pt]): Double = {
      var s = 0.0; var k = 0
      while (k < r.length - 1) {
        s += r(k).x * r(k + 1).y - r(k + 1).x * r(k).y; k += 1
      }
      s / 2
    }
    val (outers, holes) = rings.partition(r => signedArea(r) < 0)
    if (outers.isEmpty) // tolerate wrong winding: treat all as outers
      return if (rings.length == 1) GPolygon(Vector(rings.head.toVector))
      else GMultiPolygon(rings.map(r => Vector(r.toVector)).toVector)
    if (outers.length == 1)
      return GPolygon((outers.head +: holes.toVector).map(_.toVector))
    val assigned = outers.map(o => ArrayBuffer[IndexedSeq[Pt]](o))
    holes.foreach { h =>
      val idx = outers.indexWhere(o => locateInRing(o, h.head) > 0)
      assigned(if (idx < 0) 0 else idx) += h
    }
    GMultiPolygon(assigned.map(_.map(_.toVector).toVector).toVector)
  }

  // ---------------------------------------------------------------- .dbf

  /** Resolve the attribute charset: the .cpg sidecar wins, then the
    * DBF header's language-driver ID (byte 29), then cp1252 — the
    * de-facto default dBase encoding (GDAL's own fallback). US-ASCII
    * would silently mangle any non-ASCII byte into a replacement char.
    */
  private[sources] def dbfCharset(cpg: Option[String], ldid: Int): Charset = {
    def forName(n: String): Option[Charset] =
      try Some(Charset.forName(n)) catch { case _: Exception => None }
    cpg.map(_.trim).filter(_.nonEmpty).flatMap { s =>
      val u = s.toUpperCase
      // common .cpg spellings: "UTF-8", "UTF8", "88591", "ISO-8859-1",
      // "1252", "CP1252", "WINDOWS-1252"
      if (u.matches("\\d+"))
        forName("windows-" + u).orElse(forName("cp" + u))
      else if (u.startsWith("CP"))
        forName(u).orElse(forName("windows-" + u.drop(2)))
      else forName(u.replaceFirst("^UTF(\\d)", "UTF-$1"))
    }.orElse(ldid match {
      // the handful of LDIDs seen in the wild (ESRI/GDAL table)
      case 0x57 | 0x03 => forName("windows-1252")
      case 0x4f | 0x13 => forName("windows-932") // Japanese
      case 0x4d | 0x7a => forName("windows-936") // Simplified Chinese
      case 0x4e | 0x79 => forName("windows-949") // Korean
      case 0x50 | 0x7b => forName("windows-950") // Traditional Chinese
      case 0x26 | 0x65 => forName("windows-1251") // Cyrillic
      case _ => None
    }).getOrElse(Charset.forName("windows-1252"))
  }

  /** dBase III records; `None` entries are deleted rows. Values keep
    * their textual form (trimmed), same contract as GeoJSON properties.
    */
  def parseDbf(bytes: Array[Byte], cpg: Option[String] = None)
      : IndexedSeq[Option[Map[String, String]]] = {
    require(bytes.length >= 32, "dbf too short for its header")
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val nRecords = le.getInt(4)
    val headerSize = le.getShort(8) & 0xffff
    val recordSize = le.getShort(10) & 0xffff
    val cs = dbfCharset(cpg, bytes(29) & 0xff)
    // field descriptors: 32 bytes each from offset 32 up to 0x0D
    case class Field(name: String, typ: Char, len: Int)
    val fields = ArrayBuffer.empty[Field]
    var off = 32
    while (off + 32 <= headerSize && bytes(off) != 0x0d) {
      val nameEnd = (0 until 11).find(k => bytes(off + k) == 0).getOrElse(11)
      fields += Field(new String(bytes, off, nameEnd, cs),
        bytes(off + 11).toChar, bytes(off + 16) & 0xff)
      off += 32
    }
    (0 until nRecords).map { r =>
      val base = headerSize + r.toLong * recordSize
      if (base + recordSize > bytes.length) None
      else if (bytes(base.toInt) == 0x2a) None // deleted
      else {
        var fo = base.toInt + 1
        val m = fields.map { f =>
          val raw = new String(bytes, fo, f.len, cs).trim
          fo += f.len
          f.name -> (f.typ match {
            case 'L' => raw match {
              case "T" | "t" | "Y" | "y" => "true"
              case "F" | "f" | "N" | "n" => "false"
              case _ => ""
            }
            case _ => raw
          })
        }.toMap
        Some(m)
      }
    }
  }
}
