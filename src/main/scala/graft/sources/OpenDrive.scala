package graft.sources

import graft.functions.Geometry
import graft.functions.Geometry._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.w3c.dom.Element
import scala.collection.mutable.ArrayBuffer

/** OpenDRIVE `.xodr` scan — the road-network row of the reference's
  * GDAL format table (docs/file-formats-reference.md:113; GDAL reads
  * it via libOpenDRIVE by SAMPLING the reference lines, the same
  * approach taken here). The format is public ASAM OpenDRIVE XML:
  * each `<road>` carries a `<planView>` of `<geometry>` segments
  * (s, x, y, hdg, length) typed as line / arc / spiral / poly3 /
  * paramPoly3.
  *
  * Each road becomes one LINESTRING row sampled at `step` metres
  * (segment joints always included), with properties id/name/length/
  * junction. Sampling math:
  *   - line: origin + s·(cos hdg, sin hdg);
  *   - arc (curvature κ): closed-form circle offsets;
  *   - spiral (κ0→κ1 clothoid): deterministic midpoint integration at
  *     64 micro-steps per sample (no Fresnel tables — the integral is
  *     smooth and the step is fixed, so results are reproducible);
  *   - poly3 / paramPoly3: cubic evaluated in the local (u, v) frame.
  * Unknown geometry kinds refuse loudly. One task per FILE, parsed in
  * executors with the broadcast Hadoop conf.
  */
object OpenDrive {

  def read(spark: SparkSession, path: String,
      step: Double = 1.0): DataFrame = {
    import spark.implicits._
    SerializableHadoopConf.perFile(spark, path, Seq(".xodr")) { (fs, p) =>
      parse(SerializableHadoopConf.readAll(fs, p), step).map {
        case (wkb, gt, attrs) => (wkb, gt, attrs, p.toString)
      }
    }.toDF("geometry", "geom_type", "properties", "filename")
  }

  /** Parse one .xodr document into per-road sampled rows. */
  def parse(xml: Array[Byte], step: Double = 1.0):
      Seq[(Array[Byte], String, Map[String, String])] = {
    require(step > 0, s"sampling step must be positive, got $step")
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(false)
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val root = f.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml)).getDocumentElement
    require(root.getTagName == "OpenDRIVE",
      s"not an OpenDRIVE document (root <${root.getTagName}>)")
    children(root, "road").map { road =>
      val pts = ArrayBuffer.empty[Pt]
      val pv = children(road, "planView")
      require(pv.length == 1,
        s"road '${attr(road, "id")}' has ${pv.length} planView elements")
      children(pv.head, "geometry").foreach { g =>
        val seg = sampleSegment(g, step)
        // drop the duplicated joint vertex between segments
        pts ++= (if (pts.nonEmpty && seg.headOption.contains(pts.last))
          seg.tail else seg)
      }
      require(pts.length >= 2,
        s"road '${attr(road, "id")}' has no plan-view geometry")
      val line = GLine(pts.toIndexedSeq)
      val props = Seq("id", "name", "length", "junction")
        .flatMap(k => Option(attr(road, k)).filter(_.nonEmpty).map(k -> _))
        .toMap
      (toWkb(line), Geometry.geometryType(line), props)
    }
  }

  // ------------------------------------------------------------ util

  private def children(e: Element, name: String): Vector[Element] = {
    val nl = e.getChildNodes
    (0 until nl.getLength).flatMap(nl.item(_) match {
      case c: Element if c.getTagName == name => Some(c)
      case _ => None
    }).toVector
  }

  private def attr(e: Element, name: String): String =
    if (e.hasAttribute(name)) e.getAttribute(name) else null

  private def num(e: Element, name: String): Double = {
    require(e.hasAttribute(name),
      s"malformed xodr: <${e.getTagName}> missing '$name'")
    e.getAttribute(name).toDouble
  }

  /** Sample one `<geometry>` segment (endpoint included). */
  private def sampleSegment(g: Element, step: Double): IndexedSeq[Pt] = {
    val (x0, y0) = (num(g, "x"), num(g, "y"))
    val hdg = num(g, "hdg")
    val len = num(g, "length")
    require(len > 0, "malformed xodr: non-positive geometry length")
    val n = math.max(1, math.ceil(len / step).toInt)
    val kinds = (0 until g.getChildNodes.getLength)
      .flatMap(g.getChildNodes.item(_) match {
        case c: Element => Some(c)
        case _ => None
      })
    require(kinds.length == 1,
      s"malformed xodr: geometry with ${kinds.length} kind children")
    val kind = kinds.head
    val (ct, st) = (math.cos(hdg), math.sin(hdg))
    def local(u: Double, v: Double): Pt =
      Pt(x0 + u * ct - v * st, y0 + u * st + v * ct)

    kind.getTagName match {
      case "line" =>
        (0 to n).map(k => local(len * k / n, 0))
      case "arc" =>
        val kap = num(kind, "curvature")
        require(kap != 0, "malformed xodr: arc with zero curvature")
        (0 to n).map { k =>
          val s = len * k / n
          Pt(x0 + (math.sin(hdg + kap * s) - math.sin(hdg)) / kap,
            y0 - (math.cos(hdg + kap * s) - math.cos(hdg)) / kap)
        }
      case "spiral" =>
        val k0 = num(kind, "curvStart")
        val k1 = num(kind, "curvEnd")
        // θ(s) = hdg + k0·s + (k1−k0)·s²/(2L); midpoint-rule integration
        // with 64 fixed micro-steps per sample — deterministic
        val micro = 64
        val ds = len / (n * micro)
        val out = ArrayBuffer[Pt](Pt(x0, y0))
        var (x, y) = (x0, y0)
        var i = 0
        while (i < n * micro) {
          val sm = (i + 0.5) * ds
          val th = hdg + k0 * sm + (k1 - k0) * sm * sm / (2 * len)
          x += ds * math.cos(th); y += ds * math.sin(th)
          if ((i + 1) % micro == 0) out += Pt(x, y)
          i += 1
        }
        out.toIndexedSeq
      case "poly3" =>
        val (a, b, c, d) =
          (num(kind, "a"), num(kind, "b"), num(kind, "c"), num(kind, "d"))
        (0 to n).map { k =>
          val u = len * k / n
          local(u, a + b * u + c * u * u + d * u * u * u)
        }
      case "paramPoly3" =>
        val (au, bu, cu, du) = (num(kind, "aU"), num(kind, "bU"),
          num(kind, "cU"), num(kind, "dU"))
        val (av, bv, cv, dv) = (num(kind, "aV"), num(kind, "bV"),
          num(kind, "cV"), num(kind, "dV"))
        val normalized =
          Option(attr(kind, "pRange")).forall(_ == "normalized")
        val pMax = if (normalized) 1.0 else len
        (0 to n).map { k =>
          val p = pMax * k / n
          local(au + bu * p + cu * p * p + du * p * p * p,
            av + bv * p + cv * p * p + dv * p * p * p)
        }
      case other => throw new IllegalArgumentException(
        s"xodr geometry kind '$other' is not supported")
    }
  }
}
