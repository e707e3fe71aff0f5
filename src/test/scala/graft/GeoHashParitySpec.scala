package graft

import graft.index.GeoHashStr
import org.scalatest.funsuite.AnyFunSuite

/**
 * Row-for-row parity with the reference's own geohash unit suite
 * (geomesa-utils/src/test/.../geohash/GeoHashTest.scala): the same
 * hard-coded hashes, cell centers, cell bounds, grid indices, span counts
 * and world-edge cells, asserted against this engine's independent
 * implementation (graft.index.GeoHashStr, implemented from the public
 * Niemeyer algorithm).
 *
 * The reference models precision in BITS (25/27/40/63); GeoHashStr models
 * it in base-32 CHARACTERS (5 bits each), which is what the string surface
 * of the engine exposes (`st_geohash(geom, chars)`). Every fixture at a
 * multiple-of-5 precision is asserted exactly; the 27/63-bit fixtures are
 * asserted on their shared 25/60-bit prefixes (the reference zero-pads the
 * trailing sub-character bits before rendering, so the prefix is the
 * well-defined common content).
 *
 * Cell centers and bounds are dyadic rationals — binary-exact doubles —
 * so those assertions use exact equality, as the reference's do.
 */
class GeoHashParitySpec extends AnyFunSuite {

  /** GeoHashTest.scala:37 — tolerance at `prec` bits: 360 * 0.5^floor(p/2). */
  private def xTol(precBits: Int): Double = 360.0 * math.pow(0.5, precBits / 2)
  private def yTol(precBits: Int): Double = xTol(precBits) * 0.5

  test("ezs42 decodes to -5.6, 42.6 (GeoHashTest:41-47)") {
    val (x, y) = GeoHashStr.decodeCenter("ezs42")
    assert(math.abs(x - -5.6) <= xTol(25))
    assert(math.abs(y - 42.6) <= yTol(25))
  }

  test("-5.6, 42.6 hashes to ezs42 at 25 bits with the exact cell (GeoHashTest:49-58)") {
    assert(GeoHashStr.encode(-5.6, 42.6, 5) === "ezs42")
    val (cx, cy) = GeoHashStr.decodeCenter("ezs42")
    assert(cx === -5.60302734375)
    assert(cy === 42.60498046875)
    // BoundingBox(-5.625, -5.5810546875, 42.626953125, 42.5830078125)
    // normalizes to lon [-5.625, -5.5810546875] × lat [42.5830078125, 42.626953125]
    assert(GeoHashStr.decodeBounds("ezs42") ===
      ((-5.625, 42.5830078125, -5.5810546875, 42.626953125)))
  }

  test("-78, 38 hashes to dqb81 at 25 bits with the exact cell (GeoHashTest:60-69)") {
    assert(GeoHashStr.encode(-78, 38, 5) === "dqb81")
    val (cx, cy) = GeoHashStr.decodeCenter("dqb81")
    assert(cx === -77.98095703125)
    assert(cy === 37.99072265625)
    assert(GeoHashStr.decodeBounds("dqb81") ===
      ((-78.0029296875, 37.96875, -77.958984375, 38.0126953125)))
  }

  test("-78, 38 hashes to dqb81jdn at 40 bits with the exact cell (GeoHashTest:82-91)") {
    assert(GeoHashStr.encode(-78, 38, 8) === "dqb81jdn")
    val (cx, cy) = GeoHashStr.decodeCenter("dqb81jdn")
    assert(cx === -78.0000114440918)
    assert(cy === 38.000078201293945)
    assert(GeoHashStr.decodeBounds("dqb81jdn") ===
      ((-78.00018310546875, 37.99999237060547, -77.99983978271484, 38.00016403198242)))
  }

  test("CCRi encodes to dqb0tg3k at 40 bits (GeohashUtilsTest:37)") {
    assert(GeoHashStr.encode(-78.4953560, 38.0752150, 8) === "dqb0tg3k")
  }

  test("-78, 38 at sub-character precisions matches on the common prefix (GeoHashTest:71-80,93-102)") {
    // 27-bit fixture "dqb81h": 25 shared bits → 5 shared characters
    assert("dqb81h".startsWith(GeoHashStr.encode(-78, 38, 5)))
    // 63-bit fixture "dqb81jdnh32t8": 60 shared bits → 12 shared characters
    assert("dqb81jdnh32t8".startsWith(GeoHashStr.encode(-78, 38, 12)))
  }

  test("dqb0c / dqb0cne4 decode to the reference's exact centers (GeoHashTest:104-110,120-126)") {
    val (x5, y5) = GeoHashStr.decodeCenter("dqb0c")
    assert(x5 === -78.68408203125)
    assert(y5 === 38.12255859375)
    val (x8, y8) = GeoHashStr.decodeCenter("dqb0cne4")
    assert(x8 === -78.70176315307617)
    assert(y8 === 38.13672065734863)
  }

  test("-78, 38 encodes and decodes correctly at multiple precisions (GeoHashTest:128-161)") {
    val (x, y) = (-78.0, 38.0)
    for (chars <- 4 to 12) {
      val hash = GeoHashStr.encode(x, y, chars)
      val (cx, cy) = GeoHashStr.decodeCenter(hash)
      // the cell center is never the raw input (centroid-of-cell semantics)
      assert(cx !== x)
      assert(cy !== y)
      // round trip through the string form is stable
      assert(GeoHashStr.encode(cx, cy, chars) === hash)
      // and the center is within the per-precision tolerance of the input
      assert(math.abs(cx - x) <= xTol(5 * chars))
      assert(math.abs(cy - y) <= yTol(5 * chars))
    }
  }

  test("grid indices of 9q8ys0 are lat 23248 / lon 5232 at 30 bits (GeoHashTest:170-207)") {
    // composeGeoHashFromBitIndicesAndPrec(23248, 5232, 30) == "9q8ys0" and
    // gridIndexForLatitude/Longitude invert it. At 30 bits a cell spans
    // 360/2^15 degrees of lon and 180/2^15 of lat; the index is the cell's
    // ordinal from the south/west edge.
    val (lonLo, latLo, lonHi, latHi) = GeoHashStr.decodeBounds("9q8ys0")
    assert(lonLo === 5232 * (360.0 / 32768) - 180)
    assert(latLo === 23248 * (180.0 / 32768) - 90)
    // the cell really is 15+15 bits
    assert(lonHi - lonLo === 360.0 / 32768)
    assert(latHi - latLo === 180.0 / 32768)
  }

  test("span counts between cells match (GeoHashTest:234-241)") {
    // getLatitudeLongitudeSpanCount(a, b, 10) = inclusive counts of 10-bit
    // cells spanned in each axis; derive indices from our cell bounds.
    def spans(a: String, b: String): (Int, Int) = {
      def idx(h: String): (Long, Long) = {
        val (lonLo, latLo, _, _) = GeoHashStr.decodeBounds(h)
        (math.round((latLo + 90) / (180.0 / 32)), math.round((lonLo + 180) / (360.0 / 32)))
      }
      val (latA, lonA) = idx(a); val (latB, lonB) = idx(b)
      ((math.abs(latB - latA) + 1).toInt, (math.abs(lonB - lonA) + 1).toInt)
    }
    assert(spans("dm", "dt") === ((1, 2)))
    assert(spans("dq", "dv") === ((2, 3)))
    assert(spans("dq", "dt") === ((2, 2)))
    assert(spans("du", "dy") === ((3, 1)))
  }

  test("prefix containment mirrors GeoHash.contains (GeoHashTest:209-232)") {
    val (lLon0, lLat0, lLon1, lLat1) = GeoHashStr.decodeBounds("dqb0")
    val (sLon0, sLat0, sLon1, sLat1) = GeoHashStr.decodeBounds("dqb0c")
    // dqb0 contains dqb0c …
    assert(lLon0 <= sLon0 && sLon1 <= lLon1 && lLat0 <= sLat0 && sLat1 <= lLat1)
    // … and strictly so: dqb0c does not contain dqb0
    assert(!(sLon0 <= lLon0 && lLon1 <= sLon1 && sLat0 <= lLat0 && lLat1 <= sLat1))
  }

  test("bbox covers match BoundingBoxTest's counts (BoundingBoxTest:22-48)") {
    // box between the centers of dqb00 and dqbxx -> 24 cells
    val (ax, ay) = GeoHashStr.decodeCenter("dqb00")
    val (bx, by) = GeoHashStr.decodeCenter("dqbxx")
    assert(GeoHashStr.cover(ax, ay, bx, by).size === 24)
    assert(GeoHashStr.cover(-78, 38, -77.895029, 38.045834).size === 6)
    assert(GeoHashStr.cover(-78, 38, -77.89503, 38.0458335).size === 6)
    assert(GeoHashStr.cover(-50, -40, 50, 40).size === 8)
    assert(GeoHashStr.cover(1, 1, 1, 1).size === 1)
    // deviation guard: a box strictly inside ONE maxChars cell answers that
    // cell (the reference subdivides once more and returns 9-char keys)
    val (cx0, cy0, cx1, cy1) = GeoHashStr.decodeBounds("dqb81jdn")
    val tiny = GeoHashStr.cover(cx0 + (cx1 - cx0) / 4, cy0 + (cy1 - cy0) / 4,
      cx1 - (cx1 - cx0) / 4, cy1 - (cy1 - cy0) / 4)
    assert(tiny === Seq("dqb81jdn"))
    // deviation guard: a box corner just past a cell boundary (within the
    // reference's 1e-12 inward shift) is still covered
    val nearEdge = GeoHashStr.cover(44.9, 10, 45 + 4e-13, 11)
    assert(nearEdge.exists { h =>
      val (x0, _, x1, _) = GeoHashStr.decodeBounds(h)
      x0 <= 45 + 4e-13 && 45 + 4e-13 <= x1
    })
    // soundness, not just counts: the cells tile the box (every cover cell
    // intersects it, and the box's corners land inside some cell)
    val cover = GeoHashStr.cover(-78, 38, -77.895029, 38.045834)
    assert(cover.forall { h =>
      val (x0, y0, x1, y1) = GeoHashStr.decodeBounds(h)
      x0 <= -77.895029 && -78 <= x1 && y0 <= 38.045834 && 38 <= y1
    })
    assert(cover.exists { h =>
      val (x0, y0, x1, y1) = GeoHashStr.decodeBounds(h)
      x0 <= -78 && -78 <= x1 && y0 <= 38 && 38 <= y1
    })
  }

  test("touching cells match TouchingGeoHashesTest (interior, antimeridian, polar)") {
    // Charlottesville, 30 bits / 6 chars — plain interior 8-ring (:50-62)
    assert(GeoHashStr.neighbors(GeoHashStr.encode(-78.4953560, 38.0752150, 6)).toSet ===
      Set("dqb0te", "dqb0tf", "dqb0td", "dqb0tu", "dqb0ts", "dqb0w5", "dqb0w4", "dqb0wh"))
    // Suva, Fiji, 10 bits / 2 chars — the ring wraps the antimeridian (:64-76)
    assert(GeoHashStr.neighbors(GeoHashStr.encode(178.440, -18.140, 2)).toSet ===
      Set("rv", "rg", "re", "rs", "rt", "2j", "2h", "25"))
    // McMurdo Station, 5 bits / 1 char — the whole south-polar row touches (:78-92)
    assert(GeoHashStr.neighbors(GeoHashStr.encode(166.68360, -77.842, 1)).toSet ===
      Set("h", "j", "n", "0", "1", "4", "5", "2", "r", "q"))
  }

  test("neighbors property: touching is symmetric and cells really touch (seeded sweep)") {
    val rng = new scala.util.Random(7)
    val cells = Seq.fill(60) {
      val chars = 1 + rng.nextInt(5)
      GeoHashStr.encode(rng.nextDouble() * 360 - 180,
        rng.nextDouble() * 180 - 90, chars)
    } ++ Seq("0", "z", "p", "b", "8h", "pb") // polar/antimeridian corners
    for (h <- cells; n <- GeoHashStr.neighbors(h)) {
      assert(n !== h)
      assert(n.length === h.length)
      // symmetry: if n touches h then h touches n
      assert(GeoHashStr.neighbors(n).contains(h), s"asymmetric: $h <-> $n")
      // geometric contact: closed bounds intersect (allowing lon wrap)
      val (ax0, ay0, ax1, ay1) = GeoHashStr.decodeBounds(h)
      val (bx0, by0, bx1, by1) = GeoHashStr.decodeBounds(n)
      val latTouch = ay0 <= by1 && by0 <= ay1
      val lonTouch = (ax0 <= bx1 && bx0 <= ax1) ||
        (ax0 == -180 && bx1 == 180) || (bx0 == -180 && ax1 == 180)
      val polarTouch = ay0 == -90 && by0 == -90 || ay1 == 90 && by1 == 90
      assert(latTouch && (lonTouch || polarTouch), s"no contact: $h vs $n")
    }
  }

  test("neighbors of a polar-row cell are refused past the bound, not built") {
    // 10 characters: the polar row holds 2^25 cells; the bound refuses it up front
    for (h <- Seq("0000000000", "zzzzzzzzzz", "bpbpbpbpbp", GeoHashStr.encode(12.0, 89.99999999, 10))) {
      val e = intercept[IllegalArgumentException](GeoHashStr.neighbors(h))
      assert(e.getMessage.contains("polar row") && e.getMessage.contains("6 characters"), e.getMessage)
    }
    assert(intercept[IllegalArgumentException](GeoHashStr.neighbors("0000000")).getMessage
      .contains(s"${(1 << 18) + 2} cells at 7 characters"))
    // a non-polar cell at 10 characters keeps its 8-ring
    assert(GeoHashStr.neighbors(GeoHashStr.encode(-78.49, 38.07, 10)).size === 8)
    // 6 characters is the finest polar row that fits: the row plus 3 cells of the next
    val row = GeoHashStr.neighbors("000000")
    assert(row.size === (1 << 15) + 2 && row.size <= GeoHashStr.MaxNeighbors)
    assert(row.distinct.size === row.size && !row.contains("000000"))
  }

  test("cover property: every sampled point of the box lands in exactly one cover cell") {
    val rng = new scala.util.Random(11)
    for (_ <- 1 to 40) {
      val x0 = rng.nextDouble() * 350 - 180
      val y0 = rng.nextDouble() * 170 - 90
      val x1 = math.min(180, x0 + rng.nextDouble() * 20)
      val y1 = math.min(90, y0 + rng.nextDouble() * 20)
      val cover = GeoHashStr.cover(x0, y0, x1, y1)
      assert(cover.nonEmpty)
      // cells are at one precision and distinct
      assert(cover.distinct.size === cover.size)
      assert(cover.map(_.length).distinct.size === 1)
      for (_ <- 1 to 25) {
        val px = x0 + rng.nextDouble() * (x1 - x0)
        val py = y0 + rng.nextDouble() * (y1 - y0)
        // strictly-interior membership: exactly one cell owns the point
        val owners = cover.count { h =>
          val (cx0, cy0, cx1, cy1) = GeoHashStr.decodeBounds(h)
          cx0 <= px && px < cx1 && cy0 <= py && py < cy1
        }
        assert(owners === 1, s"point ($px,$py) owned by $owners cells of box ($x0,$y0,$x1,$y1)")
      }
    }
  }

  test("world-edge points land in the reference's corner cells (GeoHashTest:259-282)") {
    assert(GeoHashStr.encode(180.0, 0.5, 1) === "x")
    assert(GeoHashStr.encode(180.0, 90.0, 1) === "z")
    assert(GeoHashStr.encode(180.0, -90.0, 1) === "p")
    assert(GeoHashStr.encode(-180.0, -90.0, 1) === "0")
    assert(GeoHashStr.encode(-180.0, 90.0, 1) === "b")
  }
}
