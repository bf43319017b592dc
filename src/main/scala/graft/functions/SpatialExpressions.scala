package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Geometry
import graft.functions.Geometry._

/** Catalyst expression layer for the `st_*` functions (SURVEY.md §2.7
  * "Spatial"; reference list in
  * pg_lake_engine/src/pgduck/shippable_spatial_functions.c). Geometries
  * travel as WKB `BinaryType` values — the GeoParquet column encoding —
  * so parquet files with WKB geometry read directly.
  *
  * Dispatch is by function name into [[SpatialOps]]'s tables: one
  * expression class per type signature instead of one per function keeps
  * the plan nodes canonicalizable (the name is an ordinary case-class
  * field) without 30 near-identical classes. These are not hot-path
  * relational operators; `CodegenFallback` (interpreted eval inside the
  * generated plan) is the deliberate trade against 30 hand-written
  * `doGenCode` bodies.
  */
object SpatialOps {

  def fromBytes(a: Any): Geom =
    parseWkb(a.asInstanceOf[Array[Byte]])
  def toBytes(g: Geom): Array[Byte] = toWkb(g)

  val geomToGeom: Map[String, Geom => Geom] = Map(
    "st_centroid" -> { g =>
      centroid(g) match {
        case Some(p) => GPoint(Some(p), g.srid)
        case None => GPoint(None, g.srid)
      }
    },
    "st_envelope" -> { g => envelope(g) },
    "st_convexhull" -> { g => convexHull(g) },
    "st_reverse" -> { g => reverse(g) },
    "st_flipcoordinates" -> { g => flipCoordinates(g) },
    "st_startpoint" -> {
      case GLine(pts, srid) if pts.nonEmpty => GPoint(Some(pts.head), srid)
      case g => GPoint(None, g.srid)
    },
    "st_endpoint" -> {
      case GLine(pts, srid) if pts.nonEmpty => GPoint(Some(pts.last), srid)
      case g => GPoint(None, g.srid)
    },
    "st_exteriorring" -> {
      case GPolygon(rs, srid) if rs.nonEmpty => GLine(rs.head, srid)
      case g => GPoint(None, g.srid)
    },
    "st_boundary" -> {
      case GPolygon(rs, srid) if rs.nonEmpty =>
        if (rs.length == 1) GLine(rs.head, srid) else GMultiLine(rs, srid)
      case GLine(pts, srid) if pts.nonEmpty =>
        if (pts.head == pts.last) GMultiPoint(Vector.empty, srid)
        else GMultiPoint(Vector(pts.head, pts.last), srid)
      case g => GCollection(Vector.empty, g.srid)
    },
    "st_pointonsurface" -> { g =>
      pointOnSurface(g) match {
        case Some(p) => GPoint(Some(p), g.srid)
        case None => GPoint(None, g.srid)
      }
    },
    "st_removerepeatedpoints" -> { g => removeRepeatedPoints(g) },
    "st_makepolygon" -> { g => makePolygon(g) },
    "st_linemerge" -> { g => lineMerge(g) },
    "st_normalize" -> { g => normalize(g) },
    // the core is strictly 2-D (Z/M never parsed or stored), so
    // force-2d is the identity — kept for PostGIS source compatibility
    "st_force2d" -> { g => g },
    "st_makevalid" -> { g => makeValid(g) },
    // Z/M storage would change every codec and predicate; silently
    // attaching a zero dimension is worse than refusing
    "st_force3dz" -> { _ => throw new UnsupportedOperationException(
      "st_force3dz: the core is strictly 2-D (no Z/M storage)") },
    "st_force3dm" -> { _ => throw new UnsupportedOperationException(
      "st_force3dm: the core is strictly 2-D (no Z/M storage)") },
    "st_force4d" -> { _ => throw new UnsupportedOperationException(
      "st_force4d: the core is strictly 2-D (no Z/M storage)") })

  val geomToDouble: Map[String, Geom => Any] = Map(
    "st_x" -> { case GPoint(Some(p), _) => p.x; case _ => null },
    "st_y" -> { case GPoint(Some(p), _) => p.y; case _ => null },
    // 2-D core: the Z/M ordinates do not exist — NULL, as PostGIS
    // returns for a missing dimension
    "st_z" -> { _ => null },
    "st_m" -> { _ => null },
    "st_area" -> { g => area(g) },
    "st_length" -> { g => Geometry.length(g) },
    "st_perimeter" -> { g => perimeter(g) },
    "st_xmin" -> { g => minMax(g).map(_._1).orNull },
    "st_ymin" -> { g => minMax(g).map(_._2).orNull },
    "st_xmax" -> { g => minMax(g).map(_._3).orNull },
    "st_ymax" -> { g => minMax(g).map(_._4).orNull })

  private def minMax(g: Geom): Option[(Double, Double, Double, Double)] = {
    val pts = allPoints(g)
    if (pts.isEmpty) None
    else Some((pts.map(_.x).min, pts.map(_.y).min,
      pts.map(_.x).max, pts.map(_.y).max))
  }

  val geomToInt: Map[String, Geom => Any] = Map(
    "st_npoints" -> { g => allPoints(g).length },
    "st_numpoints" -> {
      case GLine(pts, _) => pts.length
      case _ => null
    },
    "st_numgeometries" -> {
      case GMultiPoint(pts, _) => pts.length
      case GMultiLine(ls, _) => ls.length
      case GMultiPolygon(ps, _) => ps.length
      case GCollection(gs, _) => gs.length
      case g => if (isEmpty(g)) 0 else 1
    },
    "st_numinteriorrings" -> {
      case GPolygon(rs, _) if rs.nonEmpty => rs.length - 1
      case _ => null
    },
    "st_srid" -> { g => g.srid },
    "st_dimension" -> { g => dimension(g) },
    // ZM flag per PostGIS: 0 = 2-D, 1 = M, 2 = Z, 3 = ZM — always 2-D here
    "st_zmflag" -> { _ => 0 })

  val geomToBool: Map[String, Geom => Boolean] = Map(
    "st_isempty" -> { g => isEmpty(g) },
    "st_isclosed" -> {
      case GLine(pts, _) => pts.nonEmpty && pts.head == pts.last
      case GMultiLine(ls, _) =>
        ls.forall(pts => pts.nonEmpty && pts.head == pts.last)
      case _ => true // per PostGIS: points/polygons are closed
    },
    "st_issimple" -> { g => isSimple(g) },
    "st_isring" -> { g => isRing(g) },
    "st_isvalid" -> { g => isValid(g) })

  val geomPairToBool: Map[String, (Geom, Geom) => Boolean] = Map(
    "st_intersects" -> { (a, b) => intersects(a, b) },
    "st_disjoint" -> { (a, b) => disjoint(a, b) },
    "st_contains" -> { (a, b) => contains(a, b) },
    "st_within" -> { (a, b) => within(a, b) },
    "st_covers" -> { (a, b) => covers(a, b) },
    "st_coveredby" -> { (a, b) => coveredBy(a, b) },
    "st_equals" -> { (a, b) => covers(a, b) && covers(b, a) },
    "st_touches" -> { (a, b) => Geometry.touches(a, b) },
    "st_crosses" -> { (a, b) => Geometry.crosses(a, b) },
    "st_overlaps" -> { (a, b) => Geometry.overlaps(a, b) },
    "st_containsproperly" -> { (a, b) => containsProperly(a, b) })

  /** Any areal pair — holes and multipolygons welcome (the noded
    * overlay handles multi-ring and multi-component inputs).
    */
  private def bothPolys(a: Geom, b: Geom): Boolean = {
    def areal(g: Geom): Boolean = g match {
      case GPolygon(rs, _) => rs.nonEmpty
      case GMultiPolygon(ps, _) => ps.nonEmpty
      case _ => false
    }
    areal(a) && areal(b)
  }

  val geomPairToGeom: Map[String, (Geom, Geom) => Geom] = Map(
    "st_collect" -> { (a, b) => collect(a, b) },
    // dissolving union across the dimension matrix: point sets merge;
    // line pairs node at their crossings; polygon pairs (convex or
    // not) go through the general overlay; mixed dimensions keep the
    // higher operand and the uncovered remainder of the lower (never
    // an overlapping collection, which would double-count measures)
    "st_union" -> { (a, b) =>
      val (da, db) = (dimension(a), dimension(b))
      if (bothPolys(a, b))
        Overlay.overlayPolygons(a, b, Overlay.Union)
      else if (da == 1 && db == 1) Overlay.unionLines(a, b)
      else if (da != db) {
        val (hi, lo) = if (da > db) (a, b) else (b, a)
        (dimension(hi), dimension(lo)) match {
          case (2, 1) if hi.isInstanceOf[GPolygon] &&
              hi.asInstanceOf[GPolygon].rings.length == 1 =>
            val outside = Overlay.clipLinesToPolygon(lo, hi,
              keepInside = false)
            if (isEmpty(outside)) hi else collect(hi, outside)
          case (_, 0) =>
            if (covers(hi, lo)) hi else collect(hi, lo)
          case _ => unionPoints(a, b) // loud refusal with the message
        }
      }
      else unionPoints(a, b)
    },
    "st_shortestline" -> { (a, b) => shortestLine(a, b) },
    // full dimension matrix: point inputs filter by coverage; two
    // linear inputs intersect to their proper crossing points; a line
    // against a polygon clips (convex via S-H segments, non-convex via
    // midpoint-classified splitting); polygon pairs go S-H when the
    // clipper is convex (also covers holes/multi subjects) and
    // Greiner–Hormann otherwise
    "st_intersection" -> { (a, b) =>
      def pointsIn(g: Geom, container: Geom): Geom = g match {
        case GPoint(op, s) =>
          GPoint(op.filter(p => covers(container, GPoint(Some(p), s))), s)
        case GMultiPoint(ps, s) =>
          GMultiPoint(ps.filter(p =>
            covers(container, GPoint(Some(p), s))), s)
        case other => other
      }
      val convexClip = b match {
        case GPolygon(rs, _) => rs.length == 1 && isConvexRing(rs.head)
        case _ => false
      }
      def singleRing(g: Geom): Boolean = g match {
        case GPolygon(rs, _) => rs.length == 1
        case _ => false
      }
      val (da, db) = (dimension(a), dimension(b))
      if (da == 0) pointsIn(a, b)
      else if (db == 0) pointsIn(b, a)
      else if (da == 1 && db == 1) Overlay.intersectLines(a, b)
      else if (da == 1 && db == 2 && !convexClip && singleRing(b))
        Overlay.clipLinesToPolygon(a, b)
      else if (da == 2 && db == 1 && singleRing(a)) a match {
        case _ if isConvexRing(
            a.asInstanceOf[GPolygon].rings.head) =>
          intersectionWithConvex(b, a)
        case _ => Overlay.clipLinesToPolygon(b, a)
      }
      else if (bothPolys(a, b))
        // areal × areal ALWAYS takes the general overlay (convex pairs
        // included): touching polygons return their lower-dimensional
        // contact (LINESTRING/POINT) instead of the convex clipper's
        // silently-empty polygon
        Overlay.overlayPolygons(a, b, Overlay.Inter)
      else intersectionWithConvex(a, b)
    },
    "st_difference" -> { (a, b) => difference(a, b) })

  val geomDoubleToGeom: Map[String, (Geom, Double) => Geom] = Map(
    "st_buffer" -> { (g, r) => Overlay.buffer(g, r) },
    "st_simplify" -> { (g, t) => simplify(g, t) },
    "st_snaptogrid" -> { (g, s) => snapToGrid(g, s) },
    "st_reduceprecision" -> { (g, s) => reducePrecision(g, s) },
    "st_simplifypreservetopology" -> { (g, t) =>
      simplifyPreserveTopology(g, t) })

  val geomIntToGeom: Map[String, (Geom, Int) => Geom] = Map(
    "st_pointn" -> { (g, n) =>
      pointN(g, n) match {
        case Some(p) => GPoint(Some(p), g.srid)
        case None => GPoint(None, g.srid)
      }
    },
    "st_collectionextract" -> { (g, t) => collectionExtract(g, t) })
}

/** geom → geom, dispatched by name. */
case class StGeomUnary(name: String, child: Expression)
    extends Expression with CodegenFallback {
  private val impl = SpatialOps.geomToGeom(name)
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = true
  override def prettyName: String = name
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else SpatialOps.toBytes(impl(SpatialOps.fromBytes(v)))
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

/** geom → double/int/bool/string scalar, dispatched by name. */
case class StGeomScalar(name: String, child: Expression)
    extends Expression with CodegenFallback {
  private val impl: Geom => Any =
    SpatialOps.geomToDouble.get(name)
      .orElse(SpatialOps.geomToInt.get(name))
      .orElse(SpatialOps.geomToBool.get(name).map(f => (g: Geom) => f(g): Any))
      .getOrElse(name match {
        case "st_astext" => (g: Geom) => UTF8String.fromString(toWkt(g))
        case "st_geometrytype" => (g: Geom) => UTF8String.fromString(geometryType(g))
        case "st_asgeojson" => (g: Geom) => UTF8String.fromString(toGeoJson(g))
        case "st_asbinary" | "st_asewkb" | "st_aswkb" => (g: Geom) => toWkb(g)
        case _ => throw new IllegalArgumentException(s"unknown st fn $name")
      })
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType =
    if (SpatialOps.geomToDouble.contains(name)) DoubleType
    else if (SpatialOps.geomToInt.contains(name)) IntegerType
    else if (SpatialOps.geomToBool.contains(name)) BooleanType
    else if (name == "st_asbinary" || name == "st_asewkb" ||
      name == "st_aswkb") BinaryType
    else StringType
  override def nullable: Boolean = true
  override def prettyName: String = name
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else impl(SpatialOps.fromBytes(v))
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

/** (geom, geom) → bool predicate, dispatched by name. */
case class StGeomPredicate(name: String, left: Expression, right: Expression)
    extends Expression with CodegenFallback {
  private val impl = SpatialOps.geomPairToBool(name)
  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = name
  override def eval(input: InternalRow): Any = {
    val l = left.eval(input); val r = right.eval(input)
    if (l == null || r == null) null
    else impl(SpatialOps.fromBytes(l), SpatialOps.fromBytes(r))
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(left = c(0), right = c(1))
}

/** (geom, geom) → geom, dispatched by name. */
case class StGeomPairGeom(name: String, left: Expression, right: Expression)
    extends Expression with CodegenFallback {
  private val impl = SpatialOps.geomPairToGeom(name)
  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = name
  override def eval(input: InternalRow): Any = {
    val l = left.eval(input); val r = right.eval(input)
    if (l == null || r == null) null
    else SpatialOps.toBytes(impl(SpatialOps.fromBytes(l), SpatialOps.fromBytes(r)))
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(left = c(0), right = c(1))
}

/** (geom, double) → geom (buffer/simplify/snaptogrid). */
case class StGeomDouble(name: String, left: Expression, right: Expression)
    extends Expression with CodegenFallback {
  private val impl = SpatialOps.geomDoubleToGeom(name)
  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = name
  override def eval(input: InternalRow): Any = {
    val l = left.eval(input); val r = right.eval(input)
    if (l == null || r == null) null
    else SpatialOps.toBytes(impl(SpatialOps.fromBytes(l),
      r.asInstanceOf[Number].doubleValue()))
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(left = c(0), right = c(1))
}

/** st_distance / st_azimuth: (geom, geom) → double. */
case class StGeomPairDouble(name: String, left: Expression, right: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = name
  override def eval(input: InternalRow): Any = {
    val l = left.eval(input); val r = right.eval(input)
    if (l == null || r == null) null
    else {
      val g1 = SpatialOps.fromBytes(l); val g2 = SpatialOps.fromBytes(r)
      name match {
        case "st_distance" => distance(g1, g2)
        case "st_azimuth" => (g1, g2) match {
          case (GPoint(Some(a), _), GPoint(Some(b), _)) =>
            azimuth(a, b).map(Double.box).orNull
          case _ => throw new IllegalArgumentException(
            "st_azimuth requires two points")
        }
      }
    }
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(left = c(0), right = c(1))
}

/** (geom, int) → geom (st_pointn / st_collectionextract). */
case class StGeomInt(name: String, left: Expression, right: Expression)
    extends Expression with CodegenFallback {
  private val impl = SpatialOps.geomIntToGeom(name)
  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = name
  override def eval(input: InternalRow): Any = {
    val l = left.eval(input); val r = right.eval(input)
    if (l == null || r == null) null
    else SpatialOps.toBytes(impl(SpatialOps.fromBytes(l),
      r.asInstanceOf[Number].intValue()))
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(left = c(0), right = c(1))
}

/** st_geomfromgeojson(text): RFC 7946 geometry JSON → WKB. */
case class StGeomFromGeoJson(child: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "st_geomfromgeojson"
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else SpatialOps.toBytes(
      graft.sources.GeoJson.parseGeometryString(v.toString))
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

/** st_dwithin(geom, geom, dist). */
case class StDWithin(g1: Expression, g2: Expression, d: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(g1, g2, d)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "st_dwithin"
  override def eval(input: InternalRow): Any = {
    val a = g1.eval(input); val b = g2.eval(input); val dd = d.eval(input)
    if (a == null || b == null || dd == null) null
    else dwithin(SpatialOps.fromBytes(a), SpatialOps.fromBytes(b),
      dd.asInstanceOf[Number].doubleValue())
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(g1 = c(0), g2 = c(1), d = c(2))
}

/** st_point(x, y) / st_makepoint. */
case class StPoint(x: Expression, y: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(x, y)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = x.nullable || y.nullable
  override def prettyName: String = "st_point"
  override def eval(input: InternalRow): Any = {
    val xv = x.eval(input); val yv = y.eval(input)
    if (xv == null || yv == null) null
    else SpatialOps.toBytes(GPoint(Some(Pt(
      xv.asInstanceOf[Number].doubleValue(),
      yv.asInstanceOf[Number].doubleValue()))))
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(x = c(0), y = c(1))
}

/** st_makeenvelope(xmin, ymin, xmax, ymax [, srid]). */
case class StMakeEnvelope(args: Seq[Expression])
    extends Expression with CodegenFallback {
  require(args.length == 4 || args.length == 5,
    "st_makeenvelope takes (xmin, ymin, xmax, ymax[, srid])")
  override def children: Seq[Expression] = args
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = args.exists(_.nullable)
  override def prettyName: String = "st_makeenvelope"
  override def eval(input: InternalRow): Any = {
    val vs = args.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else {
      val d = vs.take(4).map(_.asInstanceOf[Number].doubleValue())
      val srid = if (vs.length == 5) vs(4).asInstanceOf[Number].intValue() else 0
      SpatialOps.toBytes(makeEnvelope(d(0), d(1), d(2), d(3), srid))
    }
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(args = c)
}

/** st_makeline(p1, p2): two points → linestring. */
case class StMakeLine(left: Expression, right: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "st_makeline"
  override def eval(input: InternalRow): Any = {
    val l = left.eval(input); val r = right.eval(input)
    if (l == null || r == null) null
    else (SpatialOps.fromBytes(l), SpatialOps.fromBytes(r)) match {
      case (GPoint(Some(a), s), GPoint(Some(b), _)) =>
        SpatialOps.toBytes(GLine(Vector(a, b), s))
      case (GLine(pts, s), GPoint(Some(b), _)) =>
        SpatialOps.toBytes(GLine(pts :+ b, s))
      case _ => throw new IllegalArgumentException(
        "st_makeline requires point/linestring inputs")
    }
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(left = c(0), right = c(1))
}

/** st_geomfromtext(wkt [, srid]) — also accepts EWKT 'SRID=n;...'. */
case class StGeomFromText(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.length == 1 || children.length == 2,
    "st_geomfromtext takes (wkt[, srid])")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "st_geomfromtext"
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else {
      val g = parseWkt(vs.head.toString)
      val g2 = if (vs.length == 2)
        g.withSrid(vs(1).asInstanceOf[Number].intValue()) else g
      SpatialOps.toBytes(g2)
    }
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** st_geomfromwkb(bytes): validates and normalizes WKB. */
case class StGeomFromWkb(child: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "st_geomfromwkb"
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else SpatialOps.toBytes(SpatialOps.fromBytes(v))
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

/** st_setsrid(geom, srid) / st_transform(geom, srid) /
  * st_translate(geom, dx, dy) / st_scale(geom, fx, fy).
  */
case class StGeomWithArgs(name: String, children: Seq[Expression])
    extends Expression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = name
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else {
      val g = SpatialOps.fromBytes(vs.head)
      val out = name match {
        case "st_setsrid" =>
          g.withSrid(vs(1).asInstanceOf[Number].intValue())
        case "st_transform" =>
          Geometry.transform(g, vs(1).asInstanceOf[Number].intValue())
        case "st_translate" =>
          translate(g, vs(1).asInstanceOf[Number].doubleValue(),
            vs(2).asInstanceOf[Number].doubleValue())
        case "st_scale" =>
          scale(g, vs(1).asInstanceOf[Number].doubleValue(),
            vs(2).asInstanceOf[Number].doubleValue())
      }
      SpatialOps.toBytes(out)
    }
  }
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** st_extent(geom): aggregate bounding box of a geometry column, as a
  * polygon envelope (PostGIS's ST_Extent). Implemented as a real
  * Catalyst [[org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate]]-style
  * typed aggregate: the buffer is four doubles (xmin/ymin/xmax/ymax),
  * partial states merge with min/max — mergeable constant-size state,
  * so the aggregate runs map-side-combined at any scale.
  */
case class StExtentAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_extent"

  override def createAggregationBuffer(): Array[Double] =
    Array(Double.PositiveInfinity, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.NegativeInfinity)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val pts = allPoints(SpatialOps.fromBytes(v))
      var i = 0
      while (i < pts.length) {
        val p = pts(i)
        if (p.x < buf(0)) buf(0) = p.x
        if (p.y < buf(1)) buf(1) = p.y
        if (p.x > buf(2)) buf(2) = p.x
        if (p.y > buf(3)) buf(3) = p.y
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    if (b(0) < a(0)) a(0) = b(0)
    if (b(1) < a(1)) a(1) = b(1)
    if (b(2) > a(2)) a(2) = b(2)
    if (b(3) > a(3)) a(3) = b(3)
    a
  }

  override def eval(buf: Array[Double]): Any =
    if (buf(0) > buf(2)) null // no non-empty input
    else SpatialOps.toBytes(makeEnvelope(buf(0), buf(1), buf(2), buf(3), 0))

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(32)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(4)(bb.getDouble())
  }

  override def withNewMutableAggBufferOffset(o: Int): StExtentAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): StExtentAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

/** Registry hookup: all st_* names into the session FunctionRegistry. */
object SpatialFunctions {

  // Same per-session idempotence guard as PgFunctions.register: spatial
  // registration re-runs flood ~70 "replaced a previously registered
  // function" WARN lines that crowd the bench JSON out of the output tail.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  def register(spark: SparkSession): Unit = {
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) != null) return
    val reg = spark.sessionState.functionRegistry
    def f(name: String)(builder: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    // SQL numeric literals arrive as Decimal (not java.lang.Number) —
    // normalize every numeric argument at plan time
    def dbl(e: Expression): Expression = Cast(e, DoubleType)
    def int(e: Expression): Expression = Cast(e, IntegerType)

    SpatialOps.geomToGeom.keys.foreach { n =>
      f(n) { case Seq(g) => StGeomUnary(n, g) }
    }
    (SpatialOps.geomToDouble.keys ++ SpatialOps.geomToInt.keys ++
      SpatialOps.geomToBool.keys ++
      Seq("st_astext", "st_geometrytype", "st_asbinary", "st_asewkb",
        "st_aswkb", "st_asgeojson"))
      .foreach { n => f(n) { case Seq(g) => StGeomScalar(n, g) } }
    SpatialOps.geomIntToGeom.keys.foreach { n =>
      f(n) { case Seq(g, i) => StGeomInt(n, g, int(i)) }
    }
    f("st_geomfromgeojson") { case Seq(s) => StGeomFromGeoJson(s) }
    f("st_extent") { case Seq(g) =>
      StExtentAgg(g).toAggregateExpression() }
    SpatialOps.geomPairToBool.keys.foreach { n =>
      f(n) { case Seq(a, b) => StGeomPredicate(n, a, b) }
    }
    SpatialOps.geomPairToGeom.keys.foreach { n =>
      f(n) { case Seq(a, b) => StGeomPairGeom(n, a, b) }
    }
    SpatialOps.geomDoubleToGeom.keys.foreach { n =>
      f(n) { case Seq(g, d) => StGeomDouble(n, g, dbl(d)) }
    }
    f("st_distance") { case Seq(a, b) => StGeomPairDouble("st_distance", a, b) }
    f("st_azimuth") { case Seq(a, b) => StGeomPairDouble("st_azimuth", a, b) }
    f("st_dwithin") { case Seq(a, b, d) => StDWithin(a, b, dbl(d)) }
    f("st_point") { case Seq(x, y) => StPoint(dbl(x), dbl(y)) }
    f("st_makepoint") { case Seq(x, y) => StPoint(dbl(x), dbl(y)) }
    f("st_makeenvelope") { case args =>
      StMakeEnvelope(args.take(4).map(dbl) ++ args.drop(4).map(int)) }
    f("st_makeline") { case Seq(a, b) => StMakeLine(a, b) }
    f("st_geomfromtext") { case args =>
      StGeomFromText(args.take(1) ++ args.drop(1).map(int)) }
    f("st_geometryfromtext") { case args =>
      StGeomFromText(args.take(1) ++ args.drop(1).map(int)) }
    f("st_geomfromwkb") { case Seq(b) => StGeomFromWkb(b) }
    f("st_setsrid") { case Seq(g, s) => StGeomWithArgs("st_setsrid", Seq(g, int(s))) }
    f("st_transform") { case Seq(g, s) => StGeomWithArgs("st_transform", Seq(g, int(s))) }
    f("st_translate") { case Seq(g, dx, dy) =>
      StGeomWithArgs("st_translate", Seq(g, dbl(dx), dbl(dy))) }
    f("st_scale") { case Seq(g, fx, fy) =>
      StGeomWithArgs("st_scale", Seq(g, dbl(fx), dbl(fy))) }
  }
}
