package graft.index

/**
 * Base-32 geohash strings — parity with the reference's key format
 * (geomesa-utils/.../geohash/GeoHash.scala: bit-interleaved lon/lat
 * rendered in the public geohash base-32 alphabet). Internally the engine
 * uses packed-long Z2 ids (sort/join natively in Tungsten); these strings
 * exist for interchange and for prefix-key compatibility tests.
 * Implemented from the public geohash algorithm (Niemeyer 2008), not the
 * reference code.
 */
object GeoHashStr {
  private val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
  private val AlphabetIdx: Map[Char, Int] = Alphabet.zipWithIndex.toMap

  /** Encode to `chars` base-32 characters (5 bits each, lon bit first). */
  def encode(lon: Double, lat: Double, chars: Int): String = {
    var lonLo = -180.0; var lonHi = 180.0
    var latLo = -90.0; var latHi = 90.0
    val sb = new StringBuilder(chars)
    var isLon = true
    var bit = 0
    var cur = 0
    while (sb.length < chars) {
      if (isLon) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { cur = (cur << 1) | 1; lonLo = mid }
        else { cur = cur << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { cur = (cur << 1) | 1; latLo = mid }
        else { cur = cur << 1; latHi = mid }
      }
      isLon = !isLon
      bit += 1
      if (bit == 5) { sb += Alphabet(cur); bit = 0; cur = 0 }
    }
    sb.toString
  }

  /** Decode to (lonMin, latMin, lonMax, latMax). */
  def decodeBounds(hash: String): (Double, Double, Double, Double) = {
    var lonLo = -180.0; var lonHi = 180.0
    var latLo = -90.0; var latHi = 90.0
    var isLon = true
    hash.foreach { c =>
      val v = AlphabetIdx.getOrElse(c,
        throw new IllegalArgumentException(s"bad geohash char: $c"))
      var i = 4
      while (i >= 0) {
        val b = (v >> i) & 1
        if (isLon) {
          val mid = (lonLo + lonHi) / 2
          if (b == 1) lonLo = mid else lonHi = mid
        } else {
          val mid = (latLo + latHi) / 2
          if (b == 1) latLo = mid else latHi = mid
        }
        isLon = !isLon
        i -= 1
      }
    }
    (lonLo, latLo, lonHi, latHi)
  }

  /** Decode to the cell's center point (the conventional geohash decode). */
  def decodeCenter(hash: String): (Double, Double) = {
    val (x0, y0, x1, y1) = decodeBounds(hash)
    ((x0 + x1) / 2, (y0 + y1) / 2)
  }

  /** (lonIdx, latIdx, lonCells, latCells) of a cell in its precision grid,
    * by de-interleaving the hash's bits (the exact inverse of
    * [[fromIndices]] — no floating-point walk involved). */
  private def indices(hash: String): (Long, Long, Long, Long) = {
    val totalBits = 5 * hash.length
    var lonIdx = 0L; var latIdx = 0L
    var k = 0
    hash.foreach { c =>
      val v = AlphabetIdx.getOrElse(c,
        throw new IllegalArgumentException(s"bad geohash char: $c"))
      var i = 4
      while (i >= 0) {
        val b = (v >> i) & 1
        if (k % 2 == 0) lonIdx = (lonIdx << 1) | b else latIdx = (latIdx << 1) | b
        k += 1
        i -= 1
      }
    }
    (lonIdx, latIdx, 1L << ((totalBits + 1) / 2), 1L << (totalBits / 2))
  }

  /** Inverse of [[indices]]: interleave grid indices back to a hash. */
  private def fromIndices(lonIdx: Long, latIdx: Long, chars: Int): String = {
    val totalBits = 5 * chars
    var li = (totalBits + 1) / 2 - 1 // next lon bit (msb first)
    var ti = totalBits / 2 - 1
    val sb = new StringBuilder(chars)
    var cur = 0; var bit = 0; var k = 0
    while (k < totalBits) {
      val b = if (k % 2 == 0) { val v = (lonIdx >> li) & 1; li -= 1; v }
              else { val v = (latIdx >> ti) & 1; ti -= 1; v }
      cur = (cur << 1) | b.toInt
      bit += 1
      if (bit == 5) { sb += Alphabet(cur); cur = 0; bit = 0 }
      k += 1
    }
    sb.toString
  }

  /** The most cells [[neighbors]] lists: a polar row at 6 characters and 3 cells of the next row (32,770). */
  val MaxNeighbors: Int = 1 << 16

  /**
   * The geohash cells TOUCHING `hash` at its own precision — the 8-ring
   * with longitude wrapping at the antimeridian, plus, for a cell on a
   * polar row, every other cell of that row (they all meet at the pole).
   * Same contract as the reference's TouchingGeoHashes
   * (geomesa-core/.../process/knn/TouchingGeoHashes.scala), used there to
   * spiral kNN searches outward; here it serves geohash-keyed bucket
   * expansion (the engine's own kNN ring runs on Z2). A polar-row cell
   * finer than 6 characters would list more than [[MaxNeighbors]] cells
   * (2^25 at 10 characters) and is refused.
   */
  def neighbors(hash: String): Seq[String] = {
    val (lonIdx, latIdx, lonCells, latCells) = indices(hash)
    val polar = latIdx == 0 || latIdx == latCells - 1
    require(!polar || lonCells + 2 <= MaxNeighbors,
      s"geohash '$hash' lies on a polar row and touches all of it: ${lonCells + 2} cells at " +
      s"${hash.length} characters, over the bound of $MaxNeighbors; use 6 characters or fewer")
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    for (dj <- -1 to 1; di <- -1 to 1; if di != 0 || dj != 0) {
      val lj = latIdx + dj
      if (lj >= 0 && lj < latCells)
        out += fromIndices(java.lang.Math.floorMod(lonIdx + di, lonCells), lj, hash.length)
    }
    if (polar)
      for (l <- 0L until lonCells if l != lonIdx)
        out += fromIndices(l, latIdx, hash.length)
    out.toSeq
  }

  /**
   * Geohash prefix cover of a closed box — at most ~`maxHashes` cells, for
   * bucketing interop with external geohash-keyed systems (the engine's
   * own covers are packed-long Z2/XZ2). Mirrors the reference's refinement
   * (geomesa-utils/.../geohash/BoundingBox.scala:166-222,
   * getGeoHashesFromBoundingBox): start from the common character prefix
   * of the box's corners, expand one base-32 character at a time keeping
   * cells whose CLOSED bounds intersect the box, recurse while under
   * `maxHashes` cells and `maxChars` characters, and back off one level if
   * the next level overshoots. The result can exceed `maxHashes` only when
   * the very first expansion already does (as the reference's can). Two
   * deliberate deviations from the reference: the corner encode is NOT
   * shifted 1e-12 inward (that shift loses a box corner lying within
   * 1e-12 past a cell boundary), and a box inside a single `maxChars`
   * cell answers that one cell instead of subdividing past `maxChars`.
   */
  def cover(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double,
            maxHashes: Int = 32, maxChars: Int = 8): Seq[String] = {
    require(lonMin <= lonMax && latMin <= latMax, "box min must be <= max")
    // Prefix from the UNSHIFTED corners: the reference shifts ur inward by
    // 1e-12 (:211), which loses the box's own corner when it lies within
    // 1e-12 past a cell boundary; encoding ur as-is keeps the prefix a
    // true ancestor of the whole closed box (a ur exactly ON a boundary
    // merely shortens the prefix — the touching cell is a correct member).
    val llHash = encode(lonMin, latMin, maxChars)
    val urHash = encode(lonMax, latMax, maxChars)
    val prefix = llHash.zip(urHash).takeWhile { case (a, b) => a == b }
      .map(_._1).mkString
    // a box inside a single maxChars cell IS that cell — the reference
    // would subdivide once more and answer at maxChars+1 characters, which
    // breaks bucketing interop with maxChars-keyed consumers
    if (prefix.length >= maxChars) return Seq(prefix)
    def intersects(h: String): Boolean = {
      val (x0, y0, x1, y1) = decodeBounds(h)
      x0 <= lonMax && lonMin <= x1 && y0 <= latMax && latMin <= y1
    }
    def minBoxes(cur: Seq[String]): Seq[String] = {
      val kids = cur.flatMap(h => Alphabet.map(c => s"$h$c")).filter(intersects)
      if (kids.size < maxHashes && kids.nonEmpty && kids.head.length < maxChars) {
        val deeper = minBoxes(kids)
        if (deeper.size > maxHashes) kids else deeper
      } else kids
    }
    minBoxes(Seq(prefix))
  }
}
