package graft.sources

import graft.functions.Geometry
import graft.functions.Geometry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.w3c.dom.Element
import scala.collection.mutable.ArrayBuffer

/** Native KML/KMZ and GML scans — two more rows of the reference's
  * GDAL format table (docs/file-formats-reference.md:102-125). Both
  * are XML dialects readable with the JDK parser alone, so like the
  * Shapefile/GeoPackage readers they come straight from the public
  * specs (OGC KML 2.2, OGC GML 2/3 simple features):
  *
  *   - KML: every `Placemark` becomes a row; geometry from `Point` /
  *     `LineString` / `LinearRing` / `Polygon` / `MultiGeometry`
  *     (`coordinates` = whitespace-separated `lon,lat[,alt]` tuples,
  *     altitude dropped); attributes from `name`, `description`, and
  *     `ExtendedData` (`Data[name]/value` + `SimpleData[name]`). A
  *     `.kmz` is a zip whose first `.kml` member is the document.
  *   - GML: every child of `featureMember` / `featureMembers` becomes
  *     a row; the first child element holding a gml geometry supplies
  *     it (both GML2 `coordinates` — comma pairs — and GML3
  *     `posList`/`pos` — flat space-separated — decode); every other
  *     simple-text child becomes an attribute. Coordinates are taken
  *     in document order (x y) — axis-order remapping is the caller's
  *     concern, as with GDAL's GML driver defaults.
  *
  * Row contract matches the GeoJSON/Shapefile sources:
  * `(geometry wkb, geom_type, attributes map<string,string>,
  * filename)`. Scale shape: one task per FILE (an XML document has no
  * intra-file split point); bytes are read and parsed in executors.
  */
object GeoXml {

  // ---------------------------------------------------------- scan

  def readKml(spark: SparkSession, path: String): DataFrame =
    readFiles(spark, path, Seq(".kml", ".kmz"), bytes => kmlFeatures(bytes))

  def readGml(spark: SparkSession, path: String): DataFrame =
    readFiles(spark, path, Seq(".gml"), bytes => gmlFeatures(bytes))

  private def readFiles(spark: SparkSession, path: String,
      exts: Seq[String],
      parse: Array[Byte] => Seq[(Array[Byte], String, Map[String, String])])
      : DataFrame = {
    import spark.implicits._
    SerializableHadoopConf.perFile(spark, path, exts) { (fs, p) =>
      parse(SerializableHadoopConf.readAll(fs, p)).map {
        case (wkb, gt, attrs) => (wkb, gt, attrs, p.toString)
      }
    }.toDF("geometry", "geom_type", "attributes", "filename")
  }

  // ------------------------------------------------------------ xml

  private def dom(xml: Array[Byte]): Element = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(false)
    f.setFeature(
      "http://apache.org/xml/features/disallow-doctype-decl", true)
    f.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml)).getDocumentElement
  }

  /** Local tag name (namespace-unaware parse keeps prefixes). */
  private def local(e: Element): String = {
    val t = e.getTagName
    val i = t.indexOf(':')
    if (i < 0) t else t.substring(i + 1)
  }

  private def childElements(root: Element): Vector[Element] = {
    val nl = root.getChildNodes
    (0 until nl.getLength).flatMap(nl.item(_) match {
      case e: Element => Some(e)
      case _ => None
    }).toVector
  }

  /** All descendant elements with the given LOCAL name. */
  private def descendants(root: Element, name: String): Vector[Element] = {
    val out = Vector.newBuilder[Element]
    def walk(e: Element): Unit = {
      if (local(e) == name) out += e
      childElements(e).foreach(walk)
    }
    childElements(root).foreach(walk)
    (if (local(root) == name) Vector(root) else Vector.empty) ++ out.result()
  }

  private def firstChild(e: Element, name: String): Option[Element] =
    childElements(e).find(c => local(c) == name)

  // ------------------------------------------------------------ kml

  def kmlFeatures(bytes: Array[Byte])
      : Seq[(Array[Byte], String, Map[String, String])] = {
    val kml =
      if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == 'K')
        unzipKmz(bytes)
      else bytes
    val root = dom(kml)
    descendants(root, "Placemark").map { pm =>
      val g = childElements(pm).flatMap(kmlGeometry).toVector match {
        case Vector() => GCollection(Vector.empty)
        case Vector(one) => one
        case many => GCollection(many)
      }
      val attrs = ArrayBuffer.empty[(String, String)]
      firstChild(pm, "name").foreach(n =>
        attrs += ("name" -> n.getTextContent.trim))
      firstChild(pm, "description").foreach(d =>
        attrs += ("description" -> d.getTextContent.trim))
      firstChild(pm, "ExtendedData").foreach { ed =>
        descendants(ed, "Data").foreach { d =>
          firstChild(d, "value").foreach(v =>
            attrs += (d.getAttribute("name") -> v.getTextContent.trim))
        }
        descendants(ed, "SimpleData").foreach(sd =>
          attrs += (sd.getAttribute("name") -> sd.getTextContent.trim))
      }
      (toWkb(g), Geometry.geometryType(g), attrs.toMap)
    }
  }

  private def unzipKmz(bytes: Array[Byte]): Array[Byte] = {
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory && e.getName.toLowerCase.endsWith(".kml"))
        return zin.readAllBytes()
      e = zin.getNextEntry
    }
    throw new IllegalArgumentException("kmz archive has no .kml member")
  }

  /** `lon,lat[,alt]` whitespace-separated tuples → points. */
  private def kmlCoords(text: String): IndexedSeq[Pt] =
    text.trim.split("\\s+").toIndexedSeq.filter(_.nonEmpty).map { tup =>
      val parts = tup.split(",")
      require(parts.length >= 2, s"malformed KML coordinate tuple '$tup'")
      Pt(parts(0).toDouble, parts(1).toDouble)
    }

  private def kmlGeometry(e: Element): Option[Geom] = local(e) match {
    case "Point" =>
      Some(firstChild(e, "coordinates")
        .map(c => kmlCoords(c.getTextContent))
        .filter(_.nonEmpty)
        .map(ps => GPoint(Some(ps.head)): Geom)
        .getOrElse(GPoint(None)))
    case "LineString" | "LinearRing" =>
      Some(GLine(firstChild(e, "coordinates")
        .map(c => kmlCoords(c.getTextContent)).getOrElse(Vector.empty)))
    case "Polygon" =>
      val outer = firstChild(e, "outerBoundaryIs")
        .flatMap(o => firstChild(o, "LinearRing"))
        .flatMap(r => firstChild(r, "coordinates"))
        .map(c => kmlCoords(c.getTextContent))
      val inners = childElements(e).filter(c => local(c) == "innerBoundaryIs")
        .flatMap(i => firstChild(i, "LinearRing"))
        .flatMap(r => firstChild(r, "coordinates"))
        .map(c => kmlCoords(c.getTextContent))
      outer.map(o => GPolygon((o +: inners).toVector): Geom)
    case "MultiGeometry" =>
      val gs = childElements(e).flatMap(kmlGeometry).toVector
      Some(if (gs.length == 1) gs.head else GCollection(gs))
    case _ => None
  }

  // ------------------------------------------------------------ gml

  def gmlFeatures(bytes: Array[Byte])
      : Seq[(Array[Byte], String, Map[String, String])] = {
    val root = dom(bytes)
    val members =
      descendants(root, "featureMember").flatMap(childElements) ++
        descendants(root, "featureMembers").flatMap(childElements)
    members.map { f =>
      var geom: Option[Geom] = None
      val attrs = ArrayBuffer.empty[(String, String)]
      childElements(f).foreach { prop =>
        val kids = childElements(prop)
        val g = kids.iterator.flatMap(gmlGeometry).nextOption()
          .orElse(gmlGeometry(prop))
        g match {
          case Some(gg) if geom.isEmpty => geom = Some(gg)
          case _ =>
            if (kids.isEmpty) {
              val t = prop.getTextContent.trim
              if (t.nonEmpty) attrs += (local(prop) -> t)
            }
        }
      }
      val g = geom.getOrElse(GCollection(Vector.empty))
      (toWkb(g), Geometry.geometryType(g), attrs.toMap)
    }
  }

  /** GML2 `coordinates` ("x,y x,y"), GML3 `posList`/`pos`
    * ("x y x y") → points.
    */
  private def gmlCoords(e: Element): IndexedSeq[Pt] = {
    val text = e.getTextContent.trim
    if (text.isEmpty) Vector.empty
    else if (local(e) == "coordinates")
      text.split("\\s+").toIndexedSeq.map { tup =>
        val p = tup.split(",")
        require(p.length >= 2, s"malformed GML coordinate tuple '$tup'")
        Pt(p(0).toDouble, p(1).toDouble)
      }
    else { // posList / pos: flat whitespace-separated, 2D assumed
      val nums = text.split("\\s+").toIndexedSeq.map(_.toDouble)
      require(nums.length % 2 == 0,
        s"odd coordinate count ${nums.length} in GML ${local(e)} " +
          "(srsDimension 3 unsupported)")
      nums.grouped(2).map(p => Pt(p(0), p(1))).toIndexedSeq
    }
  }

  private def coordsOf(e: Element): IndexedSeq[Pt] =
    childElements(e).collectFirst {
      case c if Set("coordinates", "posList", "pos").contains(local(c)) =>
        gmlCoords(c)
    }.getOrElse(Vector.empty)

  private def ringOf(boundary: Element): Option[IndexedSeq[Pt]] =
    firstChild(boundary, "LinearRing").map(coordsOf)

  private def gmlGeometry(e: Element): Option[Geom] = local(e) match {
    case "Point" =>
      Some(coordsOf(e).headOption
        .map(p => GPoint(Some(p)): Geom).getOrElse(GPoint(None)))
    case "LineString" | "LinearRing" => Some(GLine(coordsOf(e)))
    case "Polygon" =>
      val outer = childElements(e)
        .filter(c => Set("outerBoundaryIs", "exterior").contains(local(c)))
        .flatMap(ringOf).headOption
      val inners = childElements(e)
        .filter(c => Set("innerBoundaryIs", "interior").contains(local(c)))
        .flatMap(ringOf)
      outer.map(o => GPolygon((o +: inners).toVector): Geom)
    case "MultiPoint" =>
      Some(GMultiPoint(descendants(e, "Point").flatMap(p =>
        coordsOf(p).headOption).toVector))
    case "MultiLineString" | "MultiCurve" =>
      Some(GMultiLine(descendants(e, "LineString").map(coordsOf).toVector))
    case "MultiPolygon" | "MultiSurface" =>
      Some(GMultiPolygon(descendants(e, "Polygon").map { p =>
        gmlGeometry(p) match {
          case Some(GPolygon(rs, _)) => rs
          case _ => Vector.empty[IndexedSeq[Pt]]
        }
      }.filter(_.nonEmpty).toVector))
    case _ => None
  }
}
