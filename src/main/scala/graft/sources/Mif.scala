package graft.sources

import graft.functions.Geometry
import graft.functions.Geometry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** MapInfo Interchange Format scan — the `.mif/.mid` row of the
  * reference's GDAL format table (docs/file-formats-reference.md:
  * 102-125). MIF is a publicly documented TEXT format (MapInfo
  * Professional appendix "MapInfo Interchange Format"): the `.mif`
  * file carries a header (Version/Delimiter/Columns) and a `Data`
  * section of geometry records; the sibling `.mid` carries one
  * delimiter-separated attribute row per geometry record.
  *
  * Geometry coverage: `NONE` (null geometry), `POINT`, `LINE`,
  * `PLINE [MULTIPLE n]` → LINESTRING/MULTILINESTRING, `REGION n` →
  * POLYGON / componentwise MULTIPOLYGON. MapInfo determines holes
  * GEOMETRICALLY (a region section inside another is a hole); this
  * reader emits each section as its own single-ring polygon and does
  * NOT reconstruct holes — stated, not hidden (the st_* layer's
  * overlay can do the containment analysis downstream). Styling
  * clauses (Pen/Brush/Symbol/Smooth/Center) are skipped per spec.
  * Attribute values surface as raw strings, the same textual contract
  * as the CSV/XLSX layers.
  *
  * Scale shape: one task per `.mif` FILE (records span lines — not
  * line-splittable), companion `.mid` opened through the broadcast
  * Hadoop conf, parsing in executors.
  */
object Mif {

  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    SerializableHadoopConf.perFile(spark, path, Seq(".mif")) { (f, p) =>
      def readAll(pp: org.apache.hadoop.fs.Path): String =
        new String(SerializableHadoopConf.readAll(f, pp),
          java.nio.charset.StandardCharsets.UTF_8)
      val file = p.toString
      val base = file.substring(0, file.length - 4)
      val midP = Seq(".mid", ".MID").map(e =>
        new org.apache.hadoop.fs.Path(base + e)).find(f.exists)
      parse(readAll(p), midP.map(readAll)).map {
        case (wkb, gtype, props) => (wkb, gtype, props, file)
      }
    }.toDF("geometry", "geom_type", "properties", "filename")
  }

  /** Parse one MIF document (+ optional MID attribute text). */
  def parse(mif: String, mid: Option[String]):
      Seq[(Array[Byte], String, Map[String, String])] = {
    val lines = mif.split("\r?\n", -1).map(_.trim)
    var i = 0
    def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)

    // ---- header: delimiter + columns, up to the Data keyword
    var delimiter = "\t" // the spec default
    val colNames = ArrayBuffer.empty[String]
    var dataAt = -1
    while (i < lines.length && dataAt < 0) {
      val l = lines(i)
      val lw = lower(l)
      if (lw.startsWith("delimiter")) {
        val q = l.indexOf('"')
        require(q >= 0 && l.indexOf('"', q + 1) > q,
          s"malformed MIF: unquoted Delimiter line '$l'")
        delimiter = l.substring(q + 1, l.indexOf('"', q + 1))
      } else if (lw.startsWith("columns")) {
        val n = l.split("\\s+")(1).toInt
        (1 to n).foreach { k =>
          require(i + k < lines.length, "malformed MIF: truncated Columns")
          colNames += lines(i + k).split("\\s+")(0)
        }
        i += n
      } else if (lw == "data") dataAt = i
      i += 1
    }
    require(dataAt >= 0, "malformed MIF: no Data section")

    // ---- MID rows (delimiter-separated, quotes stripped)
    val midRows: Option[IndexedSeq[IndexedSeq[String]]] = mid.map { t =>
      t.split("\r?\n", -1).filter(_.nonEmpty).map { row =>
        splitMid(row, delimiter).toIndexedSeq
      }.toIndexedSeq
    }

    // ---- geometry records
    val out = ArrayBuffer.empty[(Array[Byte], String, Map[String, String])]
    def nextNonEmpty(): String = {
      while (i < lines.length && lines(i).isEmpty) i += 1
      require(i < lines.length, "malformed MIF: truncated geometry record")
      val l = lines(i); i += 1; l
    }
    def coords(l: String): Array[Double] =
      l.split("\\s+").map(_.toDouble)
    def readPts(n: Int): IndexedSeq[Pt] =
      (1 to n).map { _ =>
        val c = coords(nextNonEmpty())
        require(c.length >= 2, "malformed MIF: coordinate line")
        Pt(c(0), c(1))
      }
    val styling = Set("pen", "brush", "symbol", "smooth", "center")

    while (i < lines.length) {
      val l = lines(i)
      if (l.isEmpty || styling.contains(lower(l.split("[\\s(]")(0)))) {
        i += 1 // blank or styling clause
      } else {
        i += 1
        val tok = l.split("\\s+")
        val g: Option[Geom] = lower(tok(0)) match {
          case "none" => None
          case "point" =>
            require(tok.length >= 3, s"malformed MIF: '$l'")
            Some(GPoint(Some(Pt(tok(1).toDouble, tok(2).toDouble))))
          case "line" =>
            require(tok.length >= 5, s"malformed MIF: '$l'")
            Some(GLine(IndexedSeq(Pt(tok(1).toDouble, tok(2).toDouble),
              Pt(tok(3).toDouble, tok(4).toDouble))))
          case "pline" =>
            val sections =
              if (tok.length >= 3 && lower(tok(1)) == "multiple")
                (1 to tok(2).toInt).map { _ =>
                  readPts(nextNonEmpty().trim.toInt)
                }
              else {
                // single section: count on the PLINE line or alone next
                val n = if (tok.length >= 2) tok(1).toInt
                  else nextNonEmpty().trim.toInt
                IndexedSeq(readPts(n))
              }
            sections.foreach(s => require(s.length >= 2,
              "malformed MIF: PLINE section under 2 points"))
            Some(if (sections.length == 1) GLine(sections.head)
              else GMultiLine(sections.toIndexedSeq))
          case "region" =>
            require(tok.length >= 2, s"malformed MIF: '$l'")
            val polys = (1 to tok(1).toInt).map { _ =>
              val ring = readPts(nextNonEmpty().trim.toInt)
              require(ring.length >= 3,
                "malformed MIF: REGION ring under 3 points")
              if (ring.head == ring.last) ring else ring :+ ring.head
            }
            Some(if (polys.length == 1) GPolygon(IndexedSeq(polys.head))
              else GMultiPolygon(polys.map(r => IndexedSeq(r)).toIndexedSeq))
          case other => throw new IllegalArgumentException(
            s"MIF object type '$other' is not supported " +
              "(NONE/POINT/LINE/PLINE/REGION are)")
        }
        val idx = out.length
        val props: Map[String, String] = midRows match {
          case Some(rows) =>
            require(idx < rows.length,
              s"malformed MIF/MID: geometry record $idx has no MID row")
            colNames.zipAll(rows(idx).take(colNames.length), "", "").toMap
              .filter(_._1.nonEmpty)
          case None => Map.empty
        }
        out += ((g.map(toWkb).orNull,
          g.map(Geometry.geometryType).getOrElse("NONE"), props))
      }
    }
    midRows.foreach(rows => require(rows.length == out.length,
      s"malformed MIF/MID: ${out.length} geometry records " +
        s"but ${rows.length} MID rows"))
    out.toSeq
  }

  /** Split one MID row on the delimiter, honoring double-quoted
    * fields (quotes stripped, delimiter inside quotes preserved).
    */
  private def splitMid(row: String, delim: String): Seq[String] = {
    val d = delim.headOption.getOrElse('\t')
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQ = false
    row.foreach { c =>
      if (c == '"') inQ = !inQ
      else if (c == d && !inQ) { out += cur.toString; cur.clear() }
      else cur += c
    }
    out += cur.toString
    out.toSeq
  }
}
