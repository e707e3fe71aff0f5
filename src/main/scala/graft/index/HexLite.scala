package graft.index

/**
 * Hexagonal hierarchical cell index — the "H3" half of the north star's
 * "H3/S2 hierarchical cell indexing", built from scratch on public
 * hex-grid math (axial coordinates + cube rounding, the standard public
 * construction; hierarchy follows the aperture-4 scheme of the published
 * ISEA4H DGGS family rather than H3's aperture-7, so cell sizes are exact
 * powers of two and the whole encode is IEEE-reproducible in ANSI SQL —
 * the same engine↔DuckDB bit-parity contract as the Z2/geohash tiers).
 *
 * DEVIATIONS from true H3 (recorded in SURVEY §8): the grid lives on the
 * engine's plate-carrée lon/lat plane (like its Z2/XZ2 tiers), not an
 * icosahedral gnomonic projection, so hexes are equal-degree, not
 * equal-area; geodetic exactness comes from the refine predicate, exactly
 * as in every other cell family here. Like H3, parent/child containment
 * is APPROXIMATE (a child hex is not geometrically inside its parent):
 * parent(cell) = the coarser hex containing this cell's center. Covers
 * therefore never mix levels via parent bit-math — a cover and its probes
 * encode at the SAME resolution directly (see [[graft.ops.SpatialJoin]]).
 *
 * Pointy-top axial grid at resolution r: circumradius s_r = 8 / 2^r
 * degrees (exact binary), axial coords
 *   qf = (sqrt(3)/3 · lon − lat/3) / s,   rf = (2/3 · lat) / s
 * cube-rounded with floor(v + 1/2). Cell id packs (res, q, r) as
 * res·2^42 + (q + 2^20)·2^21 + (r + 2^20); res ≤ [[MaxRes]] keeps every
 * coordinate under 2^20 for the whole lon/lat domain.
 */
object HexLite {

  val MaxRes = 14
  /** Circumradius at res 0, degrees. */
  val S0 = 8.0
  private val Sqrt3 = math.sqrt(3.0)
  private val Sqrt3Over3 = Sqrt3 / 3.0
  private val TwoThirds = 2.0 / 3.0
  private val Off = 1L << 20
  private val CoordBits = 21
  private val CoordMask = (1L << CoordBits) - 1

  /** Exact circumradius at `res` (8 / 2^res — exact binary fraction). */
  def sizeOf(res: Int): Double = {
    require(res >= 0 && res <= MaxRes, s"hex res $res outside [0, $MaxRes]")
    S0 / (1L << res)
  }

  def pack(res: Int, q: Long, r: Long): Long =
    (res.toLong << (2 * CoordBits)) | ((q + Off) << CoordBits) | (r + Off)
  def resOf(id: Long): Int = (id >>> (2 * CoordBits)).toInt
  def qOf(id: Long): Long = ((id >>> CoordBits) & CoordMask) - Off
  def rOf(id: Long): Long = (id & CoordMask) - Off

  /** Standard cube rounding of fractional axial coords (floor(v + 1/2));
    * op sequence mirrored verbatim by [[graft.OracleMirror.hexRoundedSql]]. */
  def cubeRound(qf: Double, rf: Double): (Long, Long) = {
    val x = qf; val z = rf; val y = -qf - rf
    val rx = math.floor(x + 0.5); val ry = math.floor(y + 0.5); val rz = math.floor(z + 0.5)
    val dx = math.abs(rx - x); val dy = math.abs(ry - y); val dz = math.abs(rz - z)
    val q = if (dx > dy && dx > dz) -ry - rz else rx
    val r = if (!(dx > dy && dx > dz) && !(dy > dz)) -rx - ry else rz
    (q.toLong, r.toLong)
  }

  /** Point → hex cell at `res`. The operation sequence mirrors the SQL
    * fragment in [[graft.OracleMirror.hexIdSql]] verbatim — every op is an
    * IEEE double op on identical inputs, so both engines agree bitwise. */
  def encode(lon: Double, lat: Double, res: Int): Long = {
    val s = sizeOf(res)
    val qf = (Sqrt3Over3 * lon - lat / 3.0) / s
    val rf = (TwoThirds * lat) / s
    val (q, r) = cubeRound(qf, rf)
    pack(res, q, r)
  }

  /** Hex center (lon, lat). */
  def center(id: Long): (Double, Double) = {
    val s = sizeOf(resOf(id))
    val q = qOf(id).toDouble; val r = rOf(id).toDouble
    (s * Sqrt3 * (q + r / 2.0), s * 1.5 * r)
  }

  /** Ancestor at a coarser `res` — H3-style approximate containment: the
    * coarse hex whose center is nearest this cell's center. Because axial
    * coordinates are LINEAR in the plane, the child center's fractional
    * axial coords at the parent resolution are exactly (q, r)·2^-shift —
    * no geometric round-trip, every op exact, and the SQL mirror stays a
    * one-liner (the center-based formulation inlines to a ~10k-node
    * expression under CTE collapsing and breaks whole-stage codegen). */
  def parent(id: Long, res: Int): Long = {
    require(res <= resOf(id), s"parent res $res finer than cell res ${resOf(id)}")
    if (res == resOf(id)) id
    else {
      val u = 1.0 / (1L << (resOf(id) - res)) // exact power of two
      val (q, r) = cubeRound(qOf(id) * u, rOf(id) * u)
      pack(res, q, r)
    }
  }

  /** The 6 axial neighbors (same res). */
  def neighbors(id: Long): Array[Long] = {
    val res = resOf(id); val q = qOf(id); val r = rOf(id)
    Array((1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)).map { case (dq, dr) =>
      pack(res, q + dq, r + dr)
    }
  }

  /** Bounding box of a hex (pointy-top: width √3·s, height 2·s). */
  def bounds(id: Long): (Double, Double, Double, Double) = {
    val s = sizeOf(resOf(id))
    val (cx, cy) = center(id)
    (cx - Sqrt3 / 2.0 * s, cy - s, cx + Sqrt3 / 2.0 * s, cy + s)
  }

  /**
   * Superset cover of a bbox at `res`: all hexes whose CENTER lies in the
   * box expanded by the circumradius s. Any hex intersecting the box has
   * its center within Euclidean distance s of the box (circumradius), so
   * it is enumerated — a proven superset; callers refine exactly.
   */
  def coverBBox(x0: Double, y0: Double, x1: Double, y1: Double, res: Int): Array[Long] = {
    val s = sizeOf(res)
    val rLo = math.ceil((y0 - s) / (1.5 * s)).toLong
    val rHi = math.floor((y1 + s) / (1.5 * s)).toLong
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var r = rLo
    while (r <= rHi) {
      val qLo = math.ceil((x0 - s) / (Sqrt3 * s) - r / 2.0).toLong
      val qHi = math.floor((x1 + s) / (Sqrt3 * s) - r / 2.0).toLong
      var q = qLo
      while (q <= qHi) { out += pack(res, q, r); q += 1 }
      r += 1
    }
    out.toArray
  }

  /** Estimated cover size at `res` (the budget predicate of
    * [[coverBudget]]; matches [[coverBBox]]'s enumeration bounds). */
  def coverEstimate(x0: Double, y0: Double, x1: Double, y1: Double, res: Int): Long = {
    val s = sizeOf(res)
    val rows = ((y1 - y0 + 2 * s) / (1.5 * s)).toLong + 1
    val cols = ((x1 - x0 + 2 * s) / (Sqrt3 * s)).toLong + 1
    rows * cols
  }

  /** The finest level of `levels` whose estimated cover fits `budget`
    * (coarsest as floor — same shape as the Z2/S2 level choice): the level
    * [[coverBudget]] covers at. */
  def chooseRes(x0: Double, y0: Double, x1: Double, y1: Double,
                budget: Int, levels: Array[Int]): Int = {
    val sorted = levels.sorted
    sorted.reverse.find(coverEstimate(x0, y0, x1, y1, _) <= budget).getOrElse(sorted.head)
  }

  /** Per-row adaptive cover at [[chooseRes]]'s level: one world-sized box
    * degrades only its own row. */
  def coverBudget(x0: Double, y0: Double, x1: Double, y1: Double,
                  budget: Int, levels: Array[Int]): Array[Long] =
    coverBBox(x0, y0, x1, y1, chooseRes(x0, y0, x1, y1, budget, levels))
}
