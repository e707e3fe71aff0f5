package graft

import java.nio.{ByteBuffer, ByteOrder}

import scala.util.Try

import graft.functions.GeomRT
import graft.geom.GeomCodec
import org.locationtech.jts.geom.{Coordinate, Geometry}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.io.{ByteOrderValues, WKBWriter}
import org.scalatest.funsuite.AnyFunSuite

/** `GeomRT.contains` and `GeomRT.containsXY` answer JTS rectangles from the
  * WKB bytes and everything else through prepared JTS. Both must give what
  * the prepared JTS test alone gives — the same boolean, or a failure where
  * it fails — on every polygon shape and every point, boundary and
  * non-finite ones included. No Spark job. */
class ContainsKernelSpec extends AnyFunSuite {

  private def reference(a: Array[Byte], b: Array[Byte]): Try[Boolean] =
    Try(PreparedGeometryFactory.prepare(GeomCodec.fromWkb(a)).contains(GeomCodec.fromWkbFast(b)))

  private def same(want: Try[Boolean], got: Try[Boolean]): Boolean =
    want.toOption == got.toOption && want.isFailure == got.isFailure

  /** Compares both kernels with the reference on every point; returns how
    * many points the reference found inside. */
  private def check(name: String, poly: Array[Byte], pts: Seq[(Double, Double)]): Int =
    pts.count { case (x, y) =>
      val want = reference(poly, GeomRT.point(x, y))
      assert(same(want, Try(GeomRT.contains(poly, GeomRT.point(x, y)))), s"contains: $name at ($x, $y)")
      assert(same(want, Try(GeomRT.containsXY(poly, x, y))), s"containsXY: $name at ($x, $y)")
      want.getOrElse(false)
    }

  /** Polygon WKB with one ring as given (no closing, no validation). */
  private def ringWkb(ring: Seq[(Double, Double)], little: Boolean): Array[Byte] = {
    val bb = ByteBuffer.allocate(13 + 16 * ring.size)
      .order(if (little) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    bb.put((if (little) 1 else 0).toByte).putInt(3).putInt(1).putInt(ring.size)
    ring.foreach { case (x, y) => bb.putDouble(x).putDouble(y) }
    bb.array
  }

  /** Every way to write a box as a 5-point ring: start corner × orientation. */
  private def boxRings(x0: Double, y0: Double, x1: Double, y1: Double): Seq[Seq[(Double, Double)]] = {
    val ccw = Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1))
    for (corners <- Seq(ccw, ccw.reverse); s <- 0 until 4) yield {
      val r = corners.drop(s) ++ corners.take(s)
      r :+ r.head
    }
  }

  private val NonFinite = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  /** Corners, edge points, points one ulp either side of each edge, the
    * center, non-finite coordinates and seeded points around the box. */
  private def probes(x0: Double, y0: Double, x1: Double, y1: Double, rng: scala.util.Random): Seq[(Double, Double)] = {
    val xm = x0 / 2 + x1 / 2; val ym = y0 / 2 + y1 / 2
    val xs = Seq(x0, x1, xm, math.nextUp(x0), math.nextDown(x0), math.nextUp(x1), math.nextDown(x1))
    val ys = Seq(y0, y1, ym, math.nextUp(y0), math.nextDown(y0), math.nextUp(y1), math.nextDown(y1))
    val w = if ((x1 - x0).isInfinite) 1.0 else x1 - x0
    val h = if ((y1 - y0).isInfinite) 1.0 else y1 - y0
    val around = Seq.fill(40)((xm + (rng.nextDouble() - 0.5) * 1.5 * w, ym + (rng.nextDouble() - 0.5) * 1.5 * h))
    (for (x <- xs; y <- ys) yield (x, y)) ++
      NonFinite.flatMap(v => Seq((v, ym), (xm, v), (v, v))) ++ around
  }

  private val boxes: Seq[(Double, Double, Double, Double)] = {
    val rng = new scala.util.Random(23)
    Seq(
      (-180.0, -90.0, 180.0, 90.0), (170.0, -10.0, 180.0, 10.0), (-180.0, -10.0, -170.0, 10.0),
      (-20.0, 80.0, 20.0, 90.0), (-20.0, -90.0, 20.0, -80.0), (-0.5, -0.5, 0.5, 0.5),
      (1e-300, 1e-300, 2e-300, 3e-300), (-1e15, 3.0, 1e15, 4.0)) ++
      Seq.fill(24) {
        val x = rng.nextDouble() * 360 - 180; val y = rng.nextDouble() * 180 - 90
        (x, y, math.min(180.0, x + rng.nextDouble() * 40), math.min(90.0, y + rng.nextDouble() * 20))
      }
  }

  test("rectangles: both byte orders, every start corner, both orientations, ±180/±90") {
    val rng = new scala.util.Random(5)
    var inside = 0; var outside = 0
    for ((x0, y0, x1, y1) <- boxes; ring <- boxRings(x0, y0, x1, y1); little <- Seq(true, false)) {
      val pts = probes(x0, y0, x1, y1, rng)
      val in = check(s"box ($x0 $y0, $x1 $y1) ring $ring little=$little", ringWkb(ring, little), pts)
      inside += in; outside += pts.size - in
    }
    // the writer's own boxes, as st_makebox builds them
    for ((x0, y0, x1, y1) <- boxes)
      check(s"makeBox ($x0 $y0, $x1 $y1)", GeomRT.makeBox(x0, y0, x1, y1), probes(x0, y0, x1, y1, rng))
    assert(inside > 1000 && outside > 1000, s"inside $inside, outside $outside")
  }

  test("boxes with non-finite bounds and NaN vertices") {
    val rng = new scala.util.Random(6)
    val inf = Double.PositiveInfinity
    for ((x0, y0, x1, y1) <- Seq((-inf, 0.0, 0.0, 1.0), (0.0, -inf, 1.0, inf), (-inf, -inf, inf, inf));
         ring <- boxRings(x0, y0, x1, y1))
      check(s"box ($x0 $y0, $x1 $y1)", ringWkb(ring, little = true), probes(x0, y0, x1, y1, rng))
    val nan = Double.NaN
    val nanRings = Seq(
      Seq((nan, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (nan, 0.0)),
      Seq((0.0, 0.0), (1.0, nan), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)),
      Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, nan)))
    for (ring <- nanRings; little <- Seq(true, false))
      check(s"NaN ring $ring", ringWkb(ring, little), probes(0.0, 0.0, 1.0, 1.0, rng))
  }

  test("POINT EMPTY and non-finite points are never contained") {
    val box = GeomRT.makeBox(-1, -1, 1, 1)
    val tri = GeomRT.fromWkt("POLYGON ((-1 -1, 1 -1, 0 1, -1 -1))")
    val empty = GeomCodec.toWkb(GeomCodec.factory.createPoint())
    for (poly <- Seq(box, tri)) {
      assert(same(reference(poly, empty), Try(GeomRT.contains(poly, empty))))
      assert(!GeomRT.contains(poly, empty))
      for (x <- 0.0 +: NonFinite; y <- 0.0 +: NonFinite if x.isNaN || x.isInfinite || y.isNaN || y.isInfinite)
        assert(check(s"($x, $y)", poly, Seq((x, y))) === 0)
    }
  }

  test("zero-width and zero-height boxes") {
    val rng = new scala.util.Random(8)
    for ((x0, y0, x1, y1) <- Seq((2.0, 0.0, 2.0, 1.0), (0.0, 3.0, 1.0, 3.0))) {
      val pts = probes(x0, y0, x1, y1, rng)
      // st_makebox writes a zero-area box as a LineString, which contains its interior points
      assert(GeomCodec.fromWkb(GeomRT.makeBox(x0, y0, x1, y1)).getGeometryType === "LineString")
      check("makeBox", GeomRT.makeBox(x0, y0, x1, y1), pts)
      for (ring <- boxRings(x0, y0, x1, y1)) assert(check(s"ring $ring", ringWkb(ring, little = true), pts) === 0)
    }
    // a ring JTS still calls a rectangle: every vertex on the envelope,
    // every edge along one axis, the edges doubling back
    val fold = Seq((0.0, 0.0), (1.0, 0.0), (0.0, 0.0), (0.0, 1.0), (0.0, 0.0))
    assert(GeomCodec.fromWkb(ringWkb(fold, little = true)).isRectangle)
    check("folded ring", ringWkb(fold, little = true), probes(0.0, 0.0, 1.0, 1.0, rng))
  }

  test("5-point non-rectangles take the JTS path") {
    val rng = new scala.util.Random(9)
    val shapes = Seq(
      "rotated square" -> Seq((1.0, 0.0), (2.0, 1.0), (1.0, 2.0), (0.0, 1.0), (1.0, 0.0)),
      "trapezoid" -> Seq((0.0, 0.0), (2.0, 0.0), (1.5, 2.0), (0.5, 2.0), (0.0, 0.0)),
      "bow-tie" -> Seq((0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0), (0.0, 0.0)),
      "hourglass" -> Seq((0.0, 0.0), (2.0, 0.0), (0.0, 2.0), (2.0, 2.0), (0.0, 0.0)),
      "repeated vertex" -> Seq((0.0, 0.0), (2.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 0.0)),
      "vertex one ulp off" -> Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (math.nextUp(0.0), 2.0), (0.0, 0.0)),
      "open ring" -> Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 1.0)))
    for ((name, ring) <- shapes; little <- Seq(true, false)) {
      assert(ringWkb(ring, little).length === 93)
      check(name, ringWkb(ring, little), probes(0.0, 0.0, 2.0, 2.0, rng))
    }
    // each shape differs from its envelope somewhere the probes reach
    val diamond = ringWkb(shapes.head._2, little = true)
    assert(!GeomRT.containsXY(diamond, 0.2, 0.2) && GeomRT.containsXY(diamond, 1.0, 1.0))
    assert(!GeomRT.containsXY(ringWkb(shapes(2)._2, little = true), 1.0, 0.5))
  }

  test("holes, multi-parts, SRID and Z fall back to JTS") {
    val rng = new scala.util.Random(10)
    val box = GeomCodec.box(0, 0, 4, 4)
    val withSrid = new WKBWriter(2, ByteOrderValues.LITTLE_ENDIAN, true).write(box)
    val z = GeomCodec.factory.createPolygon(
      Array((0, 0), (4, 0), (4, 4), (0, 4), (0, 0)).map { case (x, y) => new Coordinate(x, y, 7.0) })
    val cases: Seq[(String, Array[Byte])] = Seq(
      "hole" -> GeomRT.fromWkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"),
      "multipolygon" -> GeomRT.fromWkt("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)))"),
      "two boxes" -> GeomRT.fromWkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((3 3, 4 3, 4 4, 3 4, 3 3)))"),
      "EWKB with SRID" -> withSrid,
      "3D little" -> new WKBWriter(3, ByteOrderValues.LITTLE_ENDIAN).write(z),
      "3D big" -> new WKBWriter(3, ByteOrderValues.BIG_ENDIAN).write(z),
      "line" -> GeomRT.fromWkt("LINESTRING (0 0, 4 4)"),
      "point" -> GeomRT.point(2, 2))
    assert(withSrid.length === 97)
    for ((name, wkb) <- cases) check(name, wkb, probes(0.0, 0.0, 4.0, 4.0, rng) ++ Seq((2.0, 2.0), (0.5, 0.5)))
    // the hole is really left out
    assert(!GeomRT.containsXY(cases.head._2, 2.0, 2.0) && GeomRT.containsXY(cases.head._2, 0.5, 0.5))
  }

  test("non-point right sides go through JTS unchanged") {
    val box = GeomRT.makeBox(0, 0, 4, 4)
    val others: Seq[Geometry] = Seq("POINT (1 1)", "MULTIPOINT ((1 1), (2 2))", "LINESTRING (1 1, 2 2)",
      "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))", "POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))").map(GeomCodec.fromWkt)
    for (g <- others; order <- Seq(ByteOrderValues.LITTLE_ENDIAN, ByteOrderValues.BIG_ENDIAN)) {
      val b = new WKBWriter(2, order).write(g)
      assert(same(reference(box, b), Try(GeomRT.contains(box, b))), g.toText)
    }
  }
}
