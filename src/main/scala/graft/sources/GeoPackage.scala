package graft.sources

import graft.functions.Geometry
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Native GeoPackage scan (SURVEY.md §2.1 "GDAL/geo scan" tail — the
  * last of the reference's GDAL formats,
  * docs/file-formats-reference.md:96-140). A .gpkg is a SQLite 3
  * database; the SQLite file format is public and frozen (sqlite.org
  * "Database File Format"), so a READ-ONLY table walker is
  * implementable from the spec exactly like the shapefile reader:
  *
  *   - page-1 header → page size / reserved bytes; legacy journal
  *     only (a WAL database refuses loudly — its truth may live
  *     outside the main file);
  *   - table b-trees walked depth-first (interior pages, leaf cells,
  *     varints, record serial types, overflow-page chains);
  *   - column names and the INTEGER-PRIMARY-KEY rowid alias recovered
  *     from the stored CREATE TABLE text in sqlite_master;
  *   - GeoPackageBinary geometry blobs (magic "GP", flags, srs,
  *     optional envelope) unwrap to the standard WKB our st_* layer
  *     already speaks. Extension-encoded geometries refuse loudly.
  *
  * Feature tables are discovered via `gpkg_geometry_columns`; rows
  * come out in the same contract as the GeoJSON/Shapefile sources:
  * `(geometry wkb, geom_type, attributes map<string,string>,
  * filename)` — plus `layer`, since one GeoPackage holds many tables.
  *
  * Scale shape: one task per FILE (a SQLite b-tree has no intra-file
  * split without parsing it); a directory of .gpkg files parallelizes
  * like any file source. Bytes are read inside executors.
  */
object GeoPackage {

  def read(spark: SparkSession, path: String,
      layer: Option[String] = None): DataFrame = {
    import spark.implicits._
    SerializableHadoopConf.perFile(spark, path, Seq(".gpkg")) { (fs, p) =>
      features(SerializableHadoopConf.readAll(fs, p), layer).map {
        case (l, wkb, gt, attrs) => (l, wkb, gt, attrs, p.toString)
      }
    }.toDF("layer", "geometry", "geom_type", "attributes", "filename")
  }

  /** All feature rows of a GeoPackage (optionally one layer). */
  def features(bytes: Array[Byte], layer: Option[String] = None)
      : Seq[(String, Array[Byte], String, Map[String, String])] = {
    val db = Sqlite.open(bytes)
    val geomCols = Sqlite.table(db, "gpkg_geometry_columns")
    val layers = geomCols.rows.map(r =>
      (r(geomCols.col("table_name")).asInstanceOf[String],
        r(geomCols.col("column_name")).asInstanceOf[String]))
      .filter(t => layer.forall(_ == t._1))
    require(layers.nonEmpty, s"layer ${layer.getOrElse("?")} not found")
    layers.flatMap { case (tname, gcol) =>
      val t = Sqlite.table(db, tname)
      val gi = t.col(gcol)
      t.rows.map { r =>
        // NULL geometry cells are legal per the GeoPackage spec (GDAL
        // emits null-geometry rows); keep the row, null geometry
        val wkb = r(gi) match {
          case null => null
          case b: Array[Byte] => unwrapGpb(b)
          case v => throw new IllegalArgumentException(
            s"geometry column $gcol of $tname holds non-blob $v")
        }
        val attrs = t.names.zipWithIndex.collect {
          case (n, i) if i != gi && r(i) != null =>
            n -> (r(i) match {
              case s: String => s
              case b: Array[Byte] => b.map("%02x".format(_)).mkString
              case v => v.toString
            })
        }.toMap
        (tname, wkb,
          if (wkb == null) null
          else Geometry.geometryType(Geometry.parseWkb(wkb)), attrs)
      }
    }
  }

  /** GeoPackageBinary → the embedded standard WKB. */
  private[sources] def unwrapGpb(b: Array[Byte]): Array[Byte] = {
    require(b != null && b.length >= 8 && b(0) == 'G' && b(1) == 'P',
      "not a GeoPackageBinary geometry blob")
    val flags = b(3) & 0xff
    require((flags & 0x20) == 0,
      "extension-encoded GeoPackage geometry not supported")
    val envDoubles = ((flags >> 1) & 7) match {
      case 0 => 0
      case 1 => 4
      case 2 | 3 => 6
      case 4 => 8
      case e => throw new IllegalArgumentException(
        s"invalid GeoPackageBinary envelope indicator $e")
    }
    java.util.Arrays.copyOfRange(b, 8 + 8 * envDoubles, b.length)
  }
}

/** Minimal read-only SQLite 3 file reader: full-table b-tree scans,
  * enough for GeoPackage (and any similar SQLite-backed format). Spec:
  * sqlite.org "Database File Format". Indices, WAL, freelists, and
  * writes are out of scope by design.
  */
private[graft] object Sqlite {

  final case class Db(bytes: Array[Byte], pageSize: Int, usable: Int)

  final case class Table(names: IndexedSeq[String],
      rows: IndexedSeq[IndexedSeq[Any]]) {
    def col(name: String): Int = {
      val i = names.indexWhere(_.equalsIgnoreCase(name))
      require(i >= 0, s"no column $name in ${names.mkString(",")}")
      i
    }
  }

  def open(bytes: Array[Byte]): Db = {
    require(bytes.length >= 512 &&
      new String(bytes, 0, 15, UTF_8) == "SQLite format 3" &&
      bytes(15) == 0, // NUL-terminated 16-byte magic
      "not a SQLite 3 database")
    val ps0 = u16(bytes, 16)
    val pageSize = if (ps0 == 1) 65536 else ps0
    require(pageSize >= 512 && (pageSize & (pageSize - 1)) == 0,
      s"invalid page size $pageSize")
    require((bytes(19) & 0xff) <= 1,
      "WAL-mode SQLite database not supported (checkpoint it first)")
    Db(bytes, pageSize, pageSize - (bytes(20) & 0xff))
  }

  /** Scan a named table: column names from the stored CREATE TABLE
    * text, rowid substituted for the INTEGER-PRIMARY-KEY alias.
    */
  def table(db: Db, name: String): Table = {
    val master = walk(db, 1)
    val row = master.find(r => r._2.length >= 5 &&
      "table" == r._2(0) && name.equalsIgnoreCase(str(r._2(1))))
      .getOrElse(throw new IllegalArgumentException(s"no table $name"))
    val rootPage = row._2(3).asInstanceOf[Long].toInt
    val sql = str(row._2(4))
    val (names, rowidAlias) = parseCreate(sql)
    val rows = walk(db, rootPage).map { case (rowid, vals) =>
      val padded = vals.padTo(names.length, null: Any)
      if (rowidAlias >= 0 && rowidAlias < padded.length &&
          padded(rowidAlias) == null)
        padded.updated(rowidAlias, rowid: Any)
      else padded
    }
    Table(names, rows)
  }

  private def str(v: Any): String = v match {
    case s: String => s
    case b: Array[Byte] => new String(b, UTF_8)
    case other => String.valueOf(other)
  }

  /** (column names, index of the INTEGER PRIMARY KEY alias or -1). */
  private[graft] def parseCreate(sql: String): (IndexedSeq[String], Int) = {
    val open = sql.indexOf('(')
    val close = sql.lastIndexOf(')')
    require(open >= 0 && close > open, s"unparseable CREATE TABLE: $sql")
    val body = sql.substring(open + 1, close)
    // split top-level commas
    val defs = ArrayBuffer.empty[String]
    var depth = 0; var start = 0; var i = 0
    while (i < body.length) {
      body.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          defs += body.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    defs += body.substring(start)
    val constraint =
      Set("primary", "unique", "check", "foreign", "constraint")
    val names = ArrayBuffer.empty[String]
    var alias = -1
    defs.map(_.trim).filter(_.nonEmpty).foreach { d =>
      val first = d.takeWhile(c => !c.isWhitespace)
      val bare = first.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("`").stripSuffix("`")
        .stripPrefix("[").stripSuffix("]")
      if (!constraint.contains(bare.toLowerCase)) {
        if (d.toLowerCase.matches("(?s).*\\binteger\\s+primary\\s+key\\b.*"))
          alias = names.length
        names += bare
      }
    }
    (names.toIndexedSeq, alias)
  }

  // ------------------------------------------------------- b-tree walk

  /** All (rowid, record values) of the table b-tree rooted at `page`. */
  private def walk(db: Db, page: Int): IndexedSeq[(Long, IndexedSeq[Any])] = {
    val out = ArrayBuffer.empty[(Long, IndexedSeq[Any])]
    def visit(pageNo: Int): Unit = {
      val po = (pageNo - 1).toLong * db.pageSize
      require(po >= 0 && po + db.pageSize <= db.bytes.length,
        s"page $pageNo out of range")
      val ho = po.toInt + (if (pageNo == 1) 100 else 0)
      val typ = db.bytes(ho) & 0xff
      val nCells = u16(db.bytes, ho + 3)
      typ match {
        case 5 => // interior table page
          val ptrs = ho + 12
          (0 until nCells).foreach { c =>
            val cell = po.toInt + u16(db.bytes, ptrs + 2 * c)
            visit(u32(db.bytes, cell))
          }
          visit(u32(db.bytes, ho + 8)) // right-most child
        case 13 => // leaf table page
          val ptrs = ho + 8
          (0 until nCells).foreach { c =>
            val cell = po.toInt + u16(db.bytes, ptrs + 2 * c)
            out += leafCell(db, cell)
          }
        case t => throw new IllegalArgumentException(
          s"unexpected b-tree page type $t on page $pageNo")
      }
    }
    visit(page)
    out.toIndexedSeq
  }

  private def leafCell(db: Db, cell: Int): (Long, IndexedSeq[Any]) = {
    val (payloadLen, o1) = varint(db.bytes, cell)
    val (rowid, o2) = varint(db.bytes, o1)
    val u = db.usable
    val maxLocal = u - 35
    val payload =
      if (payloadLen <= maxLocal)
        java.util.Arrays.copyOfRange(db.bytes, o2, o2 + payloadLen.toInt)
      else { // spilled: local prefix + overflow chain
        val minLocal = (u - 12) * 32 / 255 - 23
        val k = minLocal + ((payloadLen - minLocal) % (u - 4)).toInt
        val local = if (k <= maxLocal) k else minLocal
        val buf = new Array[Byte](payloadLen.toInt)
        System.arraycopy(db.bytes, o2, buf, 0, local)
        var got = local
        var next = u32(db.bytes, o2 + local)
        while (next != 0 && got < payloadLen) {
          val po = (next - 1).toLong * db.pageSize
          val take = math.min(u - 4, payloadLen.toInt - got)
          System.arraycopy(db.bytes, po.toInt + 4, buf, got, take)
          got += take
          next = u32(db.bytes, po.toInt)
        }
        require(got == payloadLen,
          s"truncated overflow chain ($got of $payloadLen bytes)")
        buf
      }
    (rowid, record(payload))
  }

  /** SQLite record format → column values (null / Long / Double /
    * String / Array[Byte]).
    */
  private def record(p: Array[Byte]): IndexedSeq[Any] = {
    val (hdrLen, first) = varint(p, 0)
    val types = ArrayBuffer.empty[Long]
    var o = first
    while (o < hdrLen) {
      val (t, o2) = varint(p, o); types += t; o = o2
    }
    var vo = hdrLen.toInt
    types.map { t =>
      def intN(n: Int): Long = {
        var v = p(vo).toLong // sign-extended first byte
        var k = 1
        while (k < n) { v = (v << 8) | (p(vo + k) & 0xffL); k += 1 }
        vo += n; v
      }
      t match {
        case 0 => null
        case 1 => intN(1)
        case 2 => intN(2)
        case 3 => intN(3)
        case 4 => intN(4)
        case 5 => intN(6)
        case 6 => intN(8)
        case 7 =>
          java.lang.Double.longBitsToDouble(intN(8))
        case 8 => 0L
        case 9 => 1L
        case n if n >= 12 && n % 2 == 0 =>
          val len = ((n - 12) / 2).toInt
          val v = java.util.Arrays.copyOfRange(p, vo, vo + len)
          vo += len; v
        case n if n >= 13 =>
          val len = ((n - 13) / 2).toInt
          val v = new String(p, vo, len, UTF_8)
          vo += len; v
        case n => throw new IllegalArgumentException(
          s"reserved record serial type $n")
      }
    }.toIndexedSeq
  }

  // ------------------------------------------------------- primitives

  @inline private def u16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  @inline private def u32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  /** SQLite varint: big-endian 7-bit groups, at most 9 bytes (the 9th
    * contributes a full 8 bits). Returns (value, next offset).
    */
  private[graft] def varint(b: Array[Byte], o: Int): (Long, Int) = {
    var v = 0L; var i = 0
    while (i < 8) {
      val c = b(o + i) & 0xff
      if ((c & 0x80) == 0) return ((v << 7) | c, o + i + 1)
      v = (v << 7) | (c & 0x7f)
      i += 1
    }
    (((v << 8) | (b(o + 8) & 0xff)), o + 9)
  }
}
