package graft.functions

import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap}

import graft.geom.{GeomCodec, Geodesy}
import graft.index.Z2
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}

/**
 * Runtime kernels for the ST_* / cell_* Catalyst expressions. Every method
 * is a static call over plain JVM types (Array[Byte], Double, Long) so
 * generated code can invoke it directly and whole-stage codegen spans stay
 * intact (the expressions' doGenCode emits `graft.functions.GeomRT.xxx(...)`).
 *
 * Point-in-polygon, the refine of every cover join, runs in [[containsXY]]:
 * rectangles are tested on their WKB bytes, points arrive as raw doubles.
 * Other predicates prepare their first argument and cache it in a per-thread
 * LRU keyed by WKB content, so each distinct build-side geometry is parsed +
 * prepared once per thread, not once per output row — the Spark analog of the
 * reference's one-time iterator setup
 * (geomesa-core/.../iterators/SpatioTemporalIntersectingIterator.scala:56-70).
 */
object GeomRT {

  private final class BytesKey(val b: Array[Byte]) {
    override val hashCode: Int = java.util.Arrays.hashCode(b)
    override def equals(o: Any): Boolean = o match {
      case k: BytesKey => (k.b eq b) || java.util.Arrays.equals(k.b, b)
      case _ => false
    }
  }

  private val prepCache = ThreadLocal.withInitial[JLinkedHashMap[BytesKey, PreparedGeometry]](() =>
    new JLinkedHashMap[BytesKey, PreparedGeometry](256, 0.75f, true) {
      override def removeEldestEntry(e: JMap.Entry[BytesKey, PreparedGeometry]): Boolean = size > 1024
    })

  def prepared(b: Array[Byte]): PreparedGeometry = {
    val cache = prepCache.get
    val key = new BytesKey(b)
    var p = cache.get(key)
    if (p == null) {
      p = PreparedGeometryFactory.prepare(GeomCodec.fromWkb(b))
      cache.put(key, p)
    }
    p
  }

  // ---- predicates (arg0 prepared) ----
  def contains(a: Array[Byte], b: Array[Byte]): Boolean = {
    val bb = if (b.length == 21 && (b(0) == 0 || b(0) == 1)) wkbBuffer(b) else null
    if (bb != null && bb.getInt(1) == 1) containsXY(a, bb.getDouble(5), bb.getDouble(13))
    else prepared(a).contains(GeomCodec.fromWkbFast(b))
  }

  /** Point-in-polygon on raw doubles. A plain 2D one-ring polygon that JTS
   *  `Polygon.isRectangle` accepts (closed 5-point ring, every vertex on the
   *  envelope, every edge along one axis) is answered from its WKB bytes as
   *  JTS `RectangleContains` answers it: strictly inside the envelope.
   *  Holes, multi-parts, SRID or Z flags and NaN vertices take prepared JTS. */
  def containsXY(a: Array[Byte], x: Double, y: Double): Boolean = {
    val bb = if (a.length == 93 && (a(0) == 0 || a(0) == 1)) wkbBuffer(a) else null
    if (bb != null && bb.getInt(1) == 3 && bb.getInt(5) == 1 && bb.getInt(9) == 5) {
      def vx(i: Int) = bb.getDouble(13 + 16 * i); def vy(i: Int) = bb.getDouble(21 + 16 * i)
      val x0 = math.min(math.min(vx(0), vx(1)), math.min(vx(2), vx(3)))
      val x1 = math.max(math.max(vx(0), vx(1)), math.max(vx(2), vx(3)))
      val y0 = math.min(math.min(vy(0), vy(1)), math.min(vy(2), vy(3)))
      val y1 = math.max(math.max(vy(0), vy(1)), math.max(vy(2), vy(3)))
      def onEnvelope(i: Int) = (vx(i) == x0 || vx(i) == x1) && (vy(i) == y0 || vy(i) == y1)
      def oneAxis(i: Int) = (vx(i) != vx(i - 1)) != (vy(i) != vy(i - 1))
      if (vx(4) == vx(0) && vy(4) == vy(0) && onEnvelope(0) && onEnvelope(1) && onEnvelope(2) &&
          onEnvelope(3) && oneAxis(1) && oneAxis(2) && oneAxis(3) && oneAxis(4))
        return x > x0 && x < x1 && y > y0 && y < y1
    }
    prepared(a).contains(GeomCodec.point(x, y))
  }

  private def wkbBuffer(b: Array[Byte]): java.nio.ByteBuffer = java.nio.ByteBuffer.wrap(b)
    .order(if (b(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)

  def intersects(a: Array[Byte], b: Array[Byte]): Boolean = prepared(a).intersects(GeomCodec.fromWkbFast(b))
  def within(a: Array[Byte], b: Array[Byte]): Boolean = prepared(b).contains(GeomCodec.fromWkbFast(a))
  def covers(a: Array[Byte], b: Array[Byte]): Boolean = prepared(a).covers(GeomCodec.fromWkbFast(b))
  def overlaps(a: Array[Byte], b: Array[Byte]): Boolean = prepared(a).overlaps(GeomCodec.fromWkb(b))
  def crosses(a: Array[Byte], b: Array[Byte]): Boolean = prepared(a).crosses(GeomCodec.fromWkb(b))
  def touches(a: Array[Byte], b: Array[Byte]): Boolean = prepared(a).touches(GeomCodec.fromWkb(b))
  def disjoint(a: Array[Byte], b: Array[Byte]): Boolean = prepared(a).disjoint(GeomCodec.fromWkb(b))
  def equalsGeom(a: Array[Byte], b: Array[Byte]): Boolean =
    GeomCodec.fromWkb(a).equalsTopo(GeomCodec.fromWkb(b))

  /** Planar (degree-space) distance test without sqrt where possible. */
  def dwithinDeg(a: Array[Byte], b: Array[Byte], deg: Double): Boolean = {
    val ga = GeomCodec.fromWkbFast(a); val gb = GeomCodec.fromWkbFast(b)
    if (ga.getGeometryType == "Point" && gb.getGeometryType == "Point") {
      val ca = ga.getCoordinate; val cb = gb.getCoordinate
      val dx = ca.x - cb.x; val dy = ca.y - cb.y
      dx * dx + dy * dy < deg * deg
    } else ga.isWithinDistance(gb, deg)
  }

  /** Reference DWithin semantics: meters converted to a local degree buffer
   *  (FilterHelper.scala:111-123), then planar within-distance. */
  def dwithinMeters(a: Array[Byte], b: Array[Byte], meters: Double): Boolean = {
    val ga = GeomCodec.fromWkbFast(a); val gb = GeomCodec.fromWkbFast(b)
    val lat = ga.getCoordinate.y
    ga.isWithinDistance(gb, Geodesy.metersToDegrees(meters, lat))
  }

  // ---- measures ----
  def distance(a: Array[Byte], b: Array[Byte]): Double =
    GeomCodec.fromWkbFast(a).distance(GeomCodec.fromWkbFast(b))
  def distanceSphere(a: Array[Byte], b: Array[Byte]): Double = {
    val ca = GeomCodec.fromWkbFast(a).getCoordinate; val cb = GeomCodec.fromWkbFast(b).getCoordinate
    Geodesy.haversineMeters(ca.x, ca.y, cb.x, cb.y)
  }
  def distanceSpheroid(a: Array[Byte], b: Array[Byte]): Double = {
    val ca = GeomCodec.fromWkbFast(a).getCoordinate; val cb = GeomCodec.fromWkbFast(b).getCoordinate
    Geodesy.vincentyMeters(ca.x, ca.y, cb.x, cb.y)
  }
  def area(a: Array[Byte]): Double = GeomCodec.fromWkb(a).getArea
  def length(a: Array[Byte]): Double = GeomCodec.fromWkb(a).getLength

  /** DE-9IM pattern test (the ECQL RELATE predicate; JTS relate). */
  def relatePattern(a: Array[Byte], b: Array[Byte], pattern: String): Boolean =
    GeomCodec.fromWkb(a).relate(GeomCodec.fromWkb(b), pattern)

  // ---- constructors / transforms ----
  def point(lon: Double, lat: Double): Array[Byte] = GeomCodec.toWkb(GeomCodec.point(lon, lat))
  def makeBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Byte] =
    GeomCodec.toWkb(GeomCodec.box(xmin, ymin, xmax, ymax))
  def fromWkt(s: String): Array[Byte] = GeomCodec.toWkb(GeomCodec.fromWkt(s))
  def asText(b: Array[Byte]): String = GeomCodec.toWkt(GeomCodec.fromWkb(b))
  def centroid(b: Array[Byte]): Array[Byte] = GeomCodec.toWkb(GeomCodec.fromWkb(b).getCentroid)
  def envelope(b: Array[Byte]): Array[Byte] = GeomCodec.toWkb(GeomCodec.fromWkb(b).getEnvelope)
  def buffer(b: Array[Byte], d: Double): Array[Byte] = GeomCodec.toWkb(GeomCodec.fromWkb(b).buffer(d))
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    GeomCodec.toWkb(GeomCodec.fromWkb(a).union(GeomCodec.fromWkb(b)))
  def simplify(b: Array[Byte], tol: Double): Array[Byte] =
    GeomCodec.toWkb(org.locationtech.jts.simplify.TopologyPreservingSimplifier.simplify(GeomCodec.fromWkb(b), tol))

  // ---- accessors ----
  def x(b: Array[Byte]): Double = GeomCodec.fromWkbFast(b).getCoordinate.x
  def y(b: Array[Byte]): Double = GeomCodec.fromWkbFast(b).getCoordinate.y
  def xmin(b: Array[Byte]): Double = GeomCodec.fromWkb(b).getEnvelopeInternal.getMinX
  def ymin(b: Array[Byte]): Double = GeomCodec.fromWkb(b).getEnvelopeInternal.getMinY
  def xmax(b: Array[Byte]): Double = GeomCodec.fromWkb(b).getEnvelopeInternal.getMaxX
  def ymax(b: Array[Byte]): Double = GeomCodec.fromWkb(b).getEnvelopeInternal.getMaxY
  def geometryType(b: Array[Byte]): String = GeomCodec.fromWkb(b).getGeometryType
  def numPoints(b: Array[Byte]): Int = GeomCodec.fromWkb(b).getNumPoints
  def isValidGeom(b: Array[Byte]): Boolean = GeomCodec.fromWkb(b).isValid

  // ---- cell index ----
  def cellOf(b: Array[Byte], res: Int): Long = {
    val g = GeomCodec.fromWkbFast(b)
    val c = if (g.getGeometryType == "Point") g.getCoordinate else g.getCentroid.getCoordinate
    Z2.encode(c.x, c.y, res)
  }

  /** Cells at `res` intersecting the geometry (bbox enumeration + exact
   *  intersects filter for non-rectangles — reference decomposition:
   *  GeohashUtils.decomposeGeometry:723-739). */
  def cover(b: Array[Byte], res: Int): Array[Long] = {
    val g = GeomCodec.fromWkb(b)
    coverGeom(g, res)
  }

  def coverGeom(g: Geometry, res: Int): Array[Long] = {
    val env = g.getEnvelopeInternal
    val cand = Z2.coverBBox(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, res)
    if (g.isRectangle || g.getGeometryType == "Point") cand
    else {
      val prep = PreparedGeometryFactory.prepare(g)
      cand.filter { id =>
        val (x0, y0, x1, y1) = Z2.bounds(id)
        prep.intersects(GeomCodec.box(x0, y0, x1, y1))
      }
    }
  }

  /** Adaptive cover: finest resolution from `levels` whose bbox cover fits
   *  `budget` (reference cover budget: QueryPlanners.scala:272-274). */
  def coverBudget(b: Array[Byte], budget: Int, levels: Array[Int]): Array[Long] = {
    val g = GeomCodec.fromWkb(b)
    coverGeom(g, chooseRes(g, budget, levels))
  }

  /** The resolution [[coverBudget]] covers `b` at. */
  def coverRes(b: Array[Byte], budget: Int, levels: Array[Int]): Int =
    chooseRes(GeomCodec.fromWkb(b), budget, levels)

  private def chooseRes(g: Geometry, budget: Int, levels: Array[Int]): Int = {
    val env = g.getEnvelopeInternal
    Z2.chooseRes(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, budget, levels)
  }

  def cellBox(id: Long): Array[Byte] = {
    val (x0, y0, x1, y1) = Z2.bounds(id)
    makeBox(x0, y0, x1, y1)
  }

  /**
   * Rasterize a geometry onto a W×H grid over [xmin,xmax)×[ymin,ymax):
   * returns packed cell ids `cy * w + cx` (reference semantics:
   * DensityIterator.scala:112-127 — points snap, LineStrings mark every
   * cell their segments cross, Polygons mark cells whose CENTER lies in
   * the interior; GridSnap.scala:29-107 is the snap math). The snap
   * formulas are bit-identical to [[graft.ops.Density]]'s column
   * expressions so a DuckDB oracle can reproduce cell assignment exactly.
   */
  def gridCells(b: Array[Byte], xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                w: Int, h: Int): Array[Long] = {
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val spanX = xmax - xmin
    val spanY = ymax - ymin
    def snapX(x: Double): Long = math.floor((x - xmin) / spanX * w).toLong
    def snapY(y: Double): Long = math.floor((y - ymin) / spanY * h).toLong
    def addPoint(x: Double, y: Double): Unit =
      if (x >= xmin && x < xmax && y >= ymin && y < ymax)
        out.add(snapY(y) * w + snapX(x))

    def addSegment(x0: Double, y0: Double, x1: Double, y1: Double): Unit = {
      // mark the cell under the midpoint of every sub-interval between
      // consecutive grid-line crossings (robust DDA: no accumulation error)
      val ts = scala.collection.mutable.ArrayBuffer(0.0, 1.0)
      if (x1 != x0) {
        val (lo, hi) = if (x0 < x1) (x0, x1) else (x1, x0)
        var gx = math.ceil((lo - xmin) / spanX * w).toLong
        val gxEnd = math.floor((hi - xmin) / spanX * w).toLong
        while (gx <= gxEnd) {
          val xv = xmin + gx.toDouble * spanX / w
          if (xv > lo && xv < hi) ts += (xv - x0) / (x1 - x0)
          gx += 1
        }
      }
      if (y1 != y0) {
        val (lo, hi) = if (y0 < y1) (y0, y1) else (y1, y0)
        var gy = math.ceil((lo - ymin) / spanY * h).toLong
        val gyEnd = math.floor((hi - ymin) / spanY * h).toLong
        while (gy <= gyEnd) {
          val yv = ymin + gy.toDouble * spanY / h
          if (yv > lo && yv < hi) ts += (yv - y0) / (y1 - y0)
          gy += 1
        }
      }
      val sorted = ts.distinct.sorted
      var i = 0
      while (i < sorted.length - 1) {
        val tm = (sorted(i) + sorted(i + 1)) / 2
        addPoint(x0 + (x1 - x0) * tm, y0 + (y1 - y0) * tm)
        i += 1
      }
    }

    def addLine(cs: Array[org.locationtech.jts.geom.Coordinate]): Unit = {
      var i = 0
      while (i < cs.length - 1) {
        addSegment(cs(i).x, cs(i).y, cs(i + 1).x, cs(i + 1).y)
        i += 1
      }
      if (cs.length == 1) addPoint(cs(0).x, cs(0).y)
    }

    def addPolygon(g: Geometry): Unit = {
      // coverage-grid centroids: cells whose center the polygon contains
      // (JTS contains = strict interior, matching the oracle's strict
      // inequalities for box polygons)
      val env = g.getEnvelopeInternal
      val prep = PreparedGeometryFactory.prepare(g)
      val cx0 = math.max(0L, snapX(math.max(env.getMinX, xmin)))
      val cx1 = math.min(w - 1L, snapX(math.min(env.getMaxX, math.nextDown(xmax))))
      val cy0 = math.max(0L, snapY(math.max(env.getMinY, ymin)))
      val cy1 = math.min(h - 1L, snapY(math.min(env.getMaxY, math.nextDown(ymax))))
      var cy = cy0
      while (cy <= cy1) {
        val yc = ymin + (cy + 0.5) * (spanY / h)
        var cx = cx0
        while (cx <= cx1) {
          val xc = xmin + (cx + 0.5) * (spanX / w)
          if (prep.contains(GeomCodec.point(xc, yc))) out.add(cy * w + cx)
          cx += 1
        }
        cy += 1
      }
    }

    def dispatch(g: Geometry): Unit = g.getGeometryType match {
      case "Point" | "MultiPoint" =>
        g.getCoordinates.foreach(c => addPoint(c.x, c.y))
      case "LineString" | "LinearRing" => addLine(g.getCoordinates)
      case "Polygon" => addPolygon(g)
      case _ => // MultiLineString / MultiPolygon / GeometryCollection
        (0 until g.getNumGeometries).foreach(i => dispatch(g.getGeometryN(i)))
    }
    dispatch(GeomCodec.fromWkb(b))
    val res = new Array[Long](out.size)
    val it = out.iterator(); var i = 0
    while (it.hasNext) { res(i) = it.next(); i += 1 }
    res
  }

  // ---- XZ2 extent index ----
  def xz2(b: Array[Byte], maxRes: Int): Long = {
    val env = GeomCodec.fromWkb(b).getEnvelopeInternal
    graft.index.XZ2.encode(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, maxRes)
  }

  def xz2QueryCover(b: Array[Byte], maxRes: Int): Array[Long] = {
    val env = GeomCodec.fromWkb(b).getEnvelopeInternal
    graft.index.XZ2.queryCover(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, maxRes)
  }

  /** GeoJSON geometry object for any WKB geometry (reference exporters
    * handle arbitrary geometries — FeatureExporter.scala:46-129; the old
    * point-only path hardcoded "Point"). */
  def geoJsonGeometry(b: Array[Byte]): String = geoJson(GeomCodec.fromWkb(b))

  private def geoJson(g: Geometry): String = {
    def num(d: Double): String =
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    def coord(c: org.locationtech.jts.geom.Coordinate) = s"[${num(c.x)},${num(c.y)}]"
    def line(cs: Array[org.locationtech.jts.geom.Coordinate]) =
      cs.map(coord).mkString("[", ",", "]")
    def polyCoords(p: org.locationtech.jts.geom.Polygon) = {
      val rings = line(p.getExteriorRing.getCoordinates) +:
        (0 until p.getNumInteriorRing).map(i => line(p.getInteriorRingN(i).getCoordinates))
      rings.mkString("[", ",", "]")
    }
    def multi(tp: String, parts: Seq[String]) =
      s"""{"type":"$tp","coordinates":${parts.mkString("[", ",", "]")}}"""
    g.getGeometryType match {
      case "Point" => s"""{"type":"Point","coordinates":${coord(g.getCoordinate)}}"""
      case "LineString" | "LinearRing" =>
        s"""{"type":"LineString","coordinates":${line(g.getCoordinates)}}"""
      case "Polygon" =>
        s"""{"type":"Polygon","coordinates":${polyCoords(g.asInstanceOf[org.locationtech.jts.geom.Polygon])}}"""
      case "MultiPoint" => multi("MultiPoint", g.getCoordinates.toSeq.map(coord))
      case "MultiLineString" => multi("MultiLineString",
        (0 until g.getNumGeometries).map(i => line(g.getGeometryN(i).getCoordinates)))
      case "MultiPolygon" => multi("MultiPolygon",
        (0 until g.getNumGeometries).map(i =>
          polyCoords(g.getGeometryN(i).asInstanceOf[org.locationtech.jts.geom.Polygon])))
      case _ => // GeometryCollection
        val parts = (0 until g.getNumGeometries).map(i => geoJson(g.getGeometryN(i)))
        s"""{"type":"GeometryCollection","geometries":${parts.mkString("[", ",", "]")}}"""
    }
  }

  /** GML 2 (WFS 1.0) geometry fragment for any WKB geometry — the
    * reference's GmlExport surface (geomesa-tools/.../FeatureExporter.scala:
    * 60-72 delegates to the GeoTools GML2 encoder; this renders the same
    * element structure directly). Coordinates are `x,y` tuples separated
    * by spaces, per the GML 2.1.2 coordinates encoding. */
  def gmlGeometry(b: Array[Byte]): String = gml(GeomCodec.fromWkb(b))

  private def gml(g: Geometry): String = {
    def num(d: Double): String =
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    def coord(c: org.locationtech.jts.geom.Coordinate) = s"${num(c.x)},${num(c.y)}"
    def coords(cs: Array[org.locationtech.jts.geom.Coordinate]) =
      cs.map(coord).mkString(" ")
    def point(c: org.locationtech.jts.geom.Coordinate) =
      s"<gml:Point><gml:coordinates>${coord(c)}</gml:coordinates></gml:Point>"
    def lineString(cs: Array[org.locationtech.jts.geom.Coordinate]) =
      s"<gml:LineString><gml:coordinates>${coords(cs)}</gml:coordinates></gml:LineString>"
    def polygon(p: org.locationtech.jts.geom.Polygon) = {
      val outer = "<gml:outerBoundaryIs><gml:LinearRing><gml:coordinates>" +
        coords(p.getExteriorRing.getCoordinates) +
        "</gml:coordinates></gml:LinearRing></gml:outerBoundaryIs>"
      val inner = (0 until p.getNumInteriorRing).map { i =>
        "<gml:innerBoundaryIs><gml:LinearRing><gml:coordinates>" +
          coords(p.getInteriorRingN(i).getCoordinates) +
          "</gml:coordinates></gml:LinearRing></gml:innerBoundaryIs>"
      }.mkString
      s"<gml:Polygon>$outer$inner</gml:Polygon>"
    }
    def multi(tag: String, memberTag: String, parts: Seq[String]) =
      s"<gml:$tag>" + parts.map(p => s"<gml:$memberTag>$p</gml:$memberTag>").mkString +
        s"</gml:$tag>"
    g.getGeometryType match {
      case "Point" => point(g.getCoordinate)
      case "LineString" | "LinearRing" => lineString(g.getCoordinates)
      case "Polygon" => polygon(g.asInstanceOf[org.locationtech.jts.geom.Polygon])
      case "MultiPoint" => multi("MultiPoint", "pointMember",
        g.getCoordinates.toSeq.map(point))
      case "MultiLineString" => multi("MultiLineString", "lineStringMember",
        (0 until g.getNumGeometries).map(i => lineString(g.getGeometryN(i).getCoordinates)))
      case "MultiPolygon" => multi("MultiPolygon", "polygonMember",
        (0 until g.getNumGeometries).map(i =>
          polygon(g.getGeometryN(i).asInstanceOf[org.locationtech.jts.geom.Polygon])))
      case _ => multi("MultiGeometry", "geometryMember",
        (0 until g.getNumGeometries).map(i => gml(g.getGeometryN(i))))
    }
  }

  /** WKB box of a base-32 geohash cell. */
  def geohashBoxWkb(hash: String): Array[Byte] = {
    val (x0, y0, x1, y1) = graft.index.GeoHashStr.decodeBounds(hash)
    makeBox(x0, y0, x1, y1)
  }
}
