package graft.ops

import graft.functions.st
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}

/**
 * Spatial joins as cell-keyed equi-joins + exact refine — the Spark-native
 * replacement for the reference's range-scan + iterator re-check pipeline
 * (geomesa-core/.../index/STIdxStrategy.scala coarse ranges →
 * SpatioTemporalIntersectingIterator exact re-check). Coarse pruning is an
 * equi-join Catalyst can hash/broadcast/AQE-skew-optimize; exactness comes
 * from the codegen'd ST_* predicate applied after the match.
 *
 * Strategy choice (reference precedent: cost-based QueryStrategyDecider):
 * if the polygon side's exploded cover is small, broadcast it (zero shuffle
 * of the big page table); otherwise shuffle both sides on the cell key and
 * let AQE split skewed cells.
 */
object SpatialJoin {

  /** Resolution ladder (bits/dim): 8 → 64 → ... → 16.7M world cells. The
   *  adaptive cover picks the finest level whose cover fits the budget
   *  (reference cover budget: QueryPlanners.scala:272-274). */
  val DefaultLevels: Array[Int] = Array(3, 5, 7, 9, 12)
  val DefaultBudget = 256

  /** Rows (post-explode) under which the cover side is broadcast. */
  val BroadcastCoverRows = 2000000L

  /**
   * Join polygons/boxes against points: emit (poly row ++ point row) pairs
   * where `refine` holds. Each polygon is covered at ONE adaptive
   * resolution; each point emits its ancestor cell at every ladder level
   * the join probes (on the shuffled path, only the levels in the build
   * side's level mask, which costs one build-side scan: [[cellJoin]]), so
   * every qualifying pair matches on exactly one cell — no duplicates, no
   * post-join dedupe (the reference needs dedupe because non-point
   * geometries are multi-indexed; single-resolution covers avoid that, cf.
   * mayContainDuplicates, IndexSchema.scala:312-319).
   */
  def polygonsWithPoints(
      polys: DataFrame, polyGeom: Column,
      points: DataFrame, pointGeom: Column,
      refine: DataFrame => Column,
      levels: Array[Int] = DefaultLevels,
      budget: Int = DefaultBudget,
      broadcastPolys: Option[Boolean] = None,
      salts: Int = 8,
      knownHotCells: Option[Array[Long]] = None): DataFrame =
    cellJoin(CellFamily.Z2(levels, budget), polys, Seq(polyGeom), points, Seq(pointGeom),
      refine, broadcastPolys, salts, knownHotCells)

  /**
   * The cover join of every cell family (Z2, S2, hex): `build` is a build
   * row's cover input and `probe` a point's, as the family reads them. A
   * point's finest cell is computed once into `__fcell` where the family
   * derives coarser cells from it; probe rows scatter over salts by the
   * hash of `probe`.
   *
   * A probe row at a level no cover uses matches nothing, yet on the
   * shuffled path it is shuffled, sorted and merged. So that path first
   * runs one job over the build side, the bitwise OR of `1 << coverLevel`,
   * and points emit cells only at the levels in this mask; the hot-cell
   * sample then runs over the pruned probe (partition elimination across a
   * join). The mask holds every level a cover uses, so no pair is lost; an
   * empty or all-null build side gives an empty mask and an empty result.
   * On the broadcast path an extra level costs one hash lookup, less than
   * the scan: every level is probed.
   */
  private def cellJoin(
      family: CellFamily, polys: DataFrame, build: Seq[Column], points: DataFrame, probe: Seq[Column],
      refine: DataFrame => Column, broadcastPolys: Option[Boolean], salts: Int,
      knownHotCells: Option[Array[Long]]): DataFrame = {
    val (b, p) = (build.map(expression), probe.map(expression))
    val doBroadcast = broadcastPolys.getOrElse(coverFitsBroadcast(polys, family.budget))
    val probeLevels =
      if (doBroadcast) family.levels
      else {
        val mask = levelMask(polys, column(family.coverLevel(b)))
        family.levels.filter(l => (mask >>> l & 1L) == 1L)
      }
    val fine = family.fineCell(p)
    val cells =
      if (probeLevels.isEmpty) typedLit(Array.empty[Long])
      else column(family.ladder(p, probeLevels, fine.map(_ => expression(col("__fcell")))))
    val probeCells = fine.fold(points)(f => points.withColumn("__fcell", column(f)))
      .withColumn("__qcell", explode(cells)).drop("__fcell")
    val buildCells = spreadBuild(polys).withColumn("__pcell", explode(column(family.cover(b))))
    coverJoin(buildCells, probeCells, pmod(hash(probe: _*), lit(salts)), refine, doBroadcast, salts, knownHotCells)
  }

  /** Bit L is set iff some build row's cover sits at level L; null levels
    * set none. One job, no exchange (a `bit_or` aggregate runs as two jobs
    * under adaptive execution: ~150 ms more on a 256k-row build side, 4 cores). */
  private[graft] def levelMask(polys: DataFrame, coverLevel: Column): Long =
    polys.select(coverLevel).queryExecution.toRdd
      .map(r => if (r.isNullAt(0)) 0L else 1L << r.getInt(0)).fold(0L)(_ | _)

  /** Broadcast the cover side? A plan-statistics cost probe — no job
    * launched when stats are real (the reference's cost-based strategy
    * choice, QueryStrategyDecider.scala:52-110, reads cardinality metadata
    * the same way). Covers multiply rows by at most `budget`; ~budget/4 is
    * the observed typical budget-capped cover size. */
  private def coverFitsBroadcast(polys: DataFrame, budget: Int): Boolean = {
    val coverFactor = math.max(1, budget / 4).toLong
    val conf = polys.sparkSession.sessionState.conf
    val bytes = polys.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < BigInt(conf.defaultSizeInBytes))
      bytes * coverFactor <= BigInt(256L * 1024 * 1024)
    else {
      // stats are the unknown-size sentinel (LocalRelation, post-join
      // frames): a HUGE default would force the salted-shuffle path plus
      // a hot-cell sampling job for what is often a tiny build side.
      // Bounded row probe instead: scans at most maxRows+1 build rows.
      val maxRows = BroadcastCoverRows / coverFactor
      polys.limit((maxRows + 1).toInt).count() <= maxRows
    }
  }

  /** Build sides below this estimated size skip the spread entirely: the
    * cover math on a handful of rows is cheaper than any shuffle. */
  val SpreadMinBytes: Long = 64L * 1024

  /** Spread a narrow build side across the cluster before the cover
    * explode: a mid-size polygon table usually arrives in 1-2 parquet
    * partitions, so its JTS cover computation runs as 1-2 tasks — a serial
    * Amdahl term ahead of the broadcast (measured ~3s for 1k polygons,
    * flat in executor count). A round-robin repartition costs one tiny
    * shuffle of the compact pre-execute rows and lets the cover math use
    * every core. Gated purely on OPTIMIZER PLAN STATISTICS — no
    * `.rdd`/physical-plan materialization per call (the r3 version's
    * per-join RDD conversion was measurable fixed overhead): spread only
    * when the estimated size says "big enough for the cover math to
    * matter, small enough to still be sitting in a couple of scan
    * partitions" (≲ 4×maxPartitionBytes); tiny and unknown-size builds
    * pass through untouched, and genuinely large builds already have
    * partitions. */
  private def spreadBuild(polys: DataFrame): DataFrame = {
    val sess = polys.sparkSession
    val conf = sess.sessionState.conf
    val bytes = polys.queryExecution.optimizedPlan.stats.sizeInBytes
    val fewPartitions = BigInt(4L) * BigInt(conf.filesMaxPartitionBytes)
    if (bytes >= BigInt(conf.defaultSizeInBytes)) polys      // unknown-size sentinel
    else if (bytes < BigInt(SpreadMinBytes)) polys           // tiny build side
    else if (bytes > fewPartitions) polys                    // already parallel
    else polys.repartition(sess.sparkContext.defaultParallelism)
  }

  /**
   * The strategy core shared by every cell family (Z2, S2, hex): build
   * side carries exploded cover cells in `__pcell`, probe side its cell(s)
   * in `__qcell` — on the shuffled path only at the levels in the build
   * side's level mask ([[cellJoin]]; the mask costs one build-side scan),
   * so the hot-cell sample, the exchange and the sorts see only probe rows
   * that can match. Broadcast when decided; otherwise shuffle both sides on
   * the cell key with explicit hot-cell salting (north rule: skew handled
   * explicitly; reference precedent: shard tier in the key layout,
   * AccumuloDataStore.scala:100-111). Hot build rows replicate across all
   * salts, hot probe rows scatter by `probeSalt`. Production hot cells
   * come from write-time statistics (CellLayout.hotCellsFromManifest); the
   * sampling job is the fallback for ad-hoc inputs.
   *
   * The salt is packed into the cell key ([[saltedKey]]), as the reference
   * packs its shard and cell into one row key (IndexSchema.scala:33-67), so
   * both sides join on one exact `LongType` key, as the broadcast branch
   * does. One long sort key is decided by the 8-byte sort prefix alone: the
   * sort-merge join's sorts take the radix sort and never compare rows. A
   * (cell, salt) key pair would put only the cell in the prefix, and every
   * row of a hot cell would tie on it and fall through to row comparisons.
   */
  private[graft] def coverJoin(
      buildCells: DataFrame, probeCells: DataFrame, probeSalt: Column,
      refine: DataFrame => Column, doBroadcast: Boolean, salts: Int,
      knownHotCells: Option[Array[Long]]): DataFrame = {
    val joined = if (doBroadcast || salts <= 1) {
      // broadcast join: the big side never shuffles, hot cells are a
      // non-issue (every task probes the same hash table)
      val buildSide = if (doBroadcast) broadcast(buildCells) else buildCells
      probeCells.join(buildSide, col("__qcell") === col("__pcell"), "inner")
    } else {
      val hot = knownHotCells.getOrElse(hotCells(probeCells, col("__qcell"), salts))
      val hotLit = typedLit(hot.toSeq)
      val saltedBuild = buildCells.withColumn("__psalt",
          explode(when(array_contains(hotLit, col("__pcell")),
            sequence(lit(0), lit(salts - 1))).otherwise(array(lit(0)))))
        .withColumn("__pcell", saltedKey(hotLit, col("__pcell"), col("__psalt"), salts))
      // `__qsalt` is no join key: it stays in the plan as the readable
      // record of the salting choice and hot-cell list (the optimizer
      // prunes it before execution)
      val saltedProbe = probeCells.withColumns(Map(
        "__qsalt" -> when(array_contains(hotLit, col("__qcell")), probeSalt).otherwise(lit(0)),
        "__qcell" -> saltedKey(hotLit, col("__qcell"), probeSalt, salts)))
      saltedProbe.join(saltedBuild, col("__qcell") === col("__pcell"), "inner")
    }
    joined.filter(refine(joined)).drop("__pcell", "__qcell", "__psalt", "__qsalt")
  }

  /** Join key of a cell on the salted path: a cold cell keeps its id; a hot
    * cell at 1-based position `p` of `hotCells` with salt `s` in
    * [0, salts) becomes `-(p * salts + s)`. Cell ids are ≥ 0, so a salted
    * key never meets a cold cell, and each (p, s) has its own key: a pair
    * still matches on exactly one key, with no dedupe. */
  private[graft] def saltedKey(hotCells: Column, cell: Column, salt: Column, salts: Int): Column = {
    val p = array_position(hotCells, cell)
    when(p > 0, -(p * salts + salt)).otherwise(cell)
  }

  /** S2 ladder levels for [[containsJoinS2]]: each polygon covers at the
    * finest level whose cover fits the budget; each point emits its
    * ancestor at every probed rung. */
  val S2Levels: Array[Int] = Array(2, 4, 6, 8)
  val S2Budget = 256

  /**
   * Point-in-polygon join through the S2 cube-face tier: each polygon
   * covers its bounding box at its OWN adaptive S2 level (per-row budgeted
   * cover — the Z2 path's shape; r2's single global level let one
   * world-sized polygon coarsen every row's cover); each point encodes
   * once at the finest ladder level and emits its ancestor at every probed
   * rung, so every qualifying pair matches on exactly one cell — no dedupe.
   * Same broadcast-or-salted strategy choice as the Z2 path, with the
   * broadcast factor derived from the actual cover budget (not a constant).
   */
  def containsJoinS2(
      polys: DataFrame, xminName: String, yminName: String,
      xmaxName: String, ymaxName: String, polyGeomName: String,
      points: DataFrame, lonName: String, latName: String,
      levels: Array[Int] = S2Levels,
      budget: Int = S2Budget,
      broadcastPolys: Option[Boolean] = None,
      salts: Int = 8,
      knownHotCells: Option[Array[Long]] = None): DataFrame =
    bboxContainsJoin(CellFamily.S2(levels, budget), polys, Seq(xminName, yminName, xmaxName, ymaxName),
      polyGeomName, points, lonName, latName, broadcastPolys, salts, knownHotCells)

  /** Hex ladder resolutions for [[containsJoinHex]] (circumradius 4° → 0.25°). */
  val HexLevels: Array[Int] = Array(1, 2, 3, 4, 5)
  val HexBudget = 256

  /**
   * Point-in-polygon join through the hexagonal tier (HexLite — the "H3"
   * half of the north star's H3/S2 pair). Each polygon covers its bbox at
   * its OWN budgeted hex resolution; each point encodes DIRECTLY at every
   * probed ladder level — hex hierarchies have only APPROXIMATE parent/child
   * containment (a child hex is not inside its parent, exactly as in H3),
   * so probe cells must NOT be derived via `hex_parent` bit/center math.
   * Direct per-level encode keeps the superset proof: a point inside the
   * polygon lies in its own hex at level L, which intersects the polygon,
   * which is therefore in the polygon's level-L cover. One cover level per
   * polygon + one cell per level per point ⇒ at most one match per pair ⇒
   * no dedupe. Strategy choice shared with the Z2/S2 paths via coverJoin.
   */
  def containsJoinHex(
      polys: DataFrame, xminName: String, yminName: String,
      xmaxName: String, ymaxName: String, polyGeomName: String,
      points: DataFrame, lonName: String, latName: String,
      levels: Array[Int] = HexLevels,
      budget: Int = HexBudget,
      broadcastPolys: Option[Boolean] = None,
      salts: Int = 8,
      knownHotCells: Option[Array[Long]] = None): DataFrame =
    bboxContainsJoin(CellFamily.Hex(levels, budget), polys, Seq(xminName, yminName, xmaxName, ymaxName),
      polyGeomName, points, lonName, latName, broadcastPolys, salts, knownHotCells)

  /** Point-in-polygon join of a family that covers each polygon's bounding
    * box (S2, hex), refined by st_contains on the raw coordinates. */
  private def bboxContainsJoin(
      family: CellFamily, polys: DataFrame, bboxNames: Seq[String], polyGeomName: String,
      points: DataFrame, lonName: String, latName: String,
      broadcastPolys: Option[Boolean], salts: Int, knownHotCells: Option[Array[Long]]): DataFrame =
    cellJoin(family, polys, bboxNames.map(col), points, Seq(col(lonName), col(latName)),
      df => st.contains(df(polyGeomName), st.point(df(lonName), df(latName))),
      broadcastPolys, salts, knownHotCells)

  /** Probe-side cell histogram → cells whose estimated row count exceeds
    * `HotCellRows` (sampled; the cost model the reference drives from
    * cardinality hints, QueryStrategyDecider.scala:31-110). */
  val HotCellSampleFraction = 0.05
  val HotCellRows = 100000L
  def hotCells(pointCells: DataFrame, cellCol: Column, salts: Int): Array[Long] =
    pointCells.sample(HotCellSampleFraction, seed = 42)
      .groupBy(cellCol.as("__c")).count()
      .filter(col("count") > HotCellRows * HotCellSampleFraction)
      .select("__c").collect().map(_.getLong(0))

  /** Point-in-polygon join: st_contains(polyGeom, pointGeom) refine. */
  def containsJoin(
      polys: DataFrame, polyGeomName: String,
      points: DataFrame, pointGeomName: String,
      levels: Array[Int] = DefaultLevels,
      budget: Int = DefaultBudget): DataFrame =
    polygonsWithPoints(polys, col(polyGeomName), points, col(pointGeomName),
      df => st.contains(df(polyGeomName), df(pointGeomName)), levels, budget)

  /**
   * Distance join with planar-degree radius (the oracle-parity variant; the
   * meters API wraps this via Geodesy.metersToDegrees). A within-distance
   * pair is exactly a point-in-expanded-box pair refined by the exact
   * distance test, so it reuses the cover join: centers become ±radius
   * boxes (reference DWithin → buffered-geometry rewrite,
   * FilterHelper.scala:111-123).
   */
  def dwithinDegJoin(
      centers: DataFrame, clonName: String, clatName: String,
      points: DataFrame, plonName: String, platName: String,
      radiusDeg: Double,
      levels: Array[Int] = DefaultLevels,
      budget: Int = DefaultBudget): DataFrame = {
    val boxes = centers.withColumn("__cbox",
      st.makeBox(col(clonName) - radiusDeg, col(clatName) - radiusDeg,
        col(clonName) + radiusDeg, col(clatName) + radiusDeg))
    polygonsWithPoints(boxes, col("__cbox"), points, st.point(col(plonName), col(platName)),
      df => {
        val dx = df(plonName) - df(clonName)
        val dy = df(platName) - df(clatName)
        dx * dx + dy * dy < lit(radiusDeg) * lit(radiusDeg)
      }, levels, budget)
      .drop("__cbox")
  }

  /** Haversine meters as a codegen-friendly column formula — same math as
    * Geodesy.haversineMeters (and the DuckDB oracle's HAV fragment). */
  def haversineCol(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    lit(2.0 * graft.geom.Geodesy.EarthRadiusMeters) * asin(least(lit(1.0), sqrt(
      pow(sin(radians(lat2 - lat1) / 2), 2) +
        cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians(lon2 - lon1) / 2), 2))))

  /**
   * Scalable kNN join for LARGE query sides — the reference's GeoHash-
   * spiral search (KNNQuery.scala:41-105, GeoHashSpiral.scala:60-159)
   * re-expressed as a resolution LADDER of distributed passes + a provable
   * bound at each rung:
   *
   *  1. candidates = equi-join on the query's 3×3 cell neighborhood at
   *     `res` (both sides shuffle on cell id — no cross join);
   *  2. a query is RESOLVED iff it found ≥ k candidates and its k-th
   *     distance is ≤ a PROVEN lower bound on the distance to anything
   *     outside the neighborhood (the guarantee the reference's spiral
   *     termination needs — and where its GEOMESA-285 under-estimation bug
   *     lived: we prove the bound instead of assuming it);
   *  3. unresolved queries re-probe at the next COARSER rung (9× the
   *     area per cell per step of 3 res bits, ≈ the reference's spiral
   *     widening) — brute force only as the final step, so one cold
   *     region no longer triggers a full O(N·Q) cross join.
   *
   * `geodetic = false`: planar degree metric (oracle-parity variant);
   * `geodetic = true`: haversine meters (the reference ranks kNN
   * geodetically — NearestNeighbors.scala:20). Ties by `dataIdName`.
   *
   * Geodetic edge bound: a point outside the lat band exits via a
   * horizontal edge, so distance ≥ R·Δφ_edge; a point beyond a meridian
   * edge within the band satisfies distance ≥ R·arccos(sin²φ* +
   * cos²φ*·cos Δλ_edge) — the exact minimum between two meridians
   * restricted to |φ| ≤ φ* (attained at φ1 = φ2 = φ*), with φ* the
   * neighborhood's max |lat|. Verified against brute-force haversine at
   * |lat| > 60° in KnnMetaSpec.
   */
  def knnJoin(
      queries: DataFrame, qidName: String, qlonName: String, qlatName: String,
      data: DataFrame, dlonName: String, dlatName: String,
      dataIdName: String, k: Int, res: Int = 7,
      geodetic: Boolean = false, ladderStep: Int = 3, ladderRungs: Int = 2,
      metric: String = "haversine"): DataFrame = {
    require(metric == "haversine" || metric == "vincenty", s"metric $metric")

    val rungs = Iterator.iterate(res)(_ - ladderStep).takeWhile(_ >= 2).take(ladderRungs).toSeq
    var remaining = queries
    var parts = List.empty[DataFrame]
    rungs.foreach { r =>
      val (resolvedRanked, unresolved) = knnRound(remaining, qidName, qlonName, qlatName,
        data, dlonName, dlatName, dataIdName, k, r, geodetic, metric)
      parts ::= resolvedRanked
      remaining = unresolved
    }
    // final safety net (AQE's empty-relation propagation elides it when the
    // ladder resolved every query — the remaining side arrives empty)
    val brute = knnBrute(remaining, qlonName, qlatName,
      data, dlonName, dlatName, dataIdName, k, geodetic, metric)
    (brute :: parts).map(_.select(col(qidName), col(dataIdName), col("rank")))
      .reduce(_ union _)
  }

  /** One ladder rung: 3×3 neighborhood equi-join at `res`, provable-bound
    * resolution test → (resolved ranked rows, still-unresolved queries). */
  private def knnRound(
      queries: DataFrame, qidName: String, qlonName: String, qlatName: String,
      data: DataFrame, dlonName: String, dlatName: String,
      dataIdName: String, k: Int, res: Int, geodetic: Boolean,
      metric: String = "haversine"): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window

    val cellW = 360.0 / (1L << res)
    val cellH = 180.0 / (1L << res)

    val d = data.withColumn("__cell", st.z2Encode(col(dlonName), col(dlatName), lit(res)))
    val base = queries
      .withColumn("__qc", st.z2Encode(col(qlonName), col(qlatName), lit(res)))
      .withColumn("__minx", floor((col(qlonName) + 180.0) / cellW) * cellW - 180.0)
      .withColumn("__miny", floor((col(qlatName) + 90.0) / cellH) * cellH - 90.0)
    // lower bound on the metric distance to anything OUTSIDE the 3×3
    // neighborhood — the resolution certificate
    val withBound =
      if (!geodetic) base.withColumn("__bnd", least(
        col(qlonName) - (col("__minx") - cellW), (col("__minx") + 2 * cellW) - col(qlonName),
        col(qlatName) - (col("__miny") - cellH), (col("__miny") + 2 * cellH) - col(qlatName)))
      else {
        val latLo = greatest(lit(-90.0), col("__miny") - cellH)
        val latHi = least(lit(90.0), col("__miny") + 2 * cellH)
        val phiStar = radians(greatest(abs(latLo), abs(latHi)))
        val R = lit(graft.geom.Geodesy.EarthRadiusMeters)
        val inf = lit(Double.MaxValue)
        def meridianBound(gapDeg: Column): Column =
          R * acos(greatest(lit(-1.0), least(lit(1.0),
            pow(sin(phiStar), 2) + pow(cos(phiStar), 2) * cos(radians(gapDeg)))))
        val hav = base.withColumn("__bnd", least(
          when(col("__miny") + 2 * cellH >= 90.0, inf)
            .otherwise(R * radians((col("__miny") + 2 * cellH) - col(qlatName))),
          when(col("__miny") - cellH <= -90.0, inf)
            .otherwise(R * radians(col(qlatName) - (col("__miny") - cellH))),
          meridianBound((col("__minx") + 2 * cellW) - col(qlonName)),
          meridianBound(col(qlonName) - (col("__minx") - cellW))))
        if (metric != "vincenty") hav
        else {
          // Vincenty lower bound from the haversine bound R·σ: the WGS84
          // geodesic between two surface points is at least the straight
          // chord through the inscribed (polar-radius) sphere,
          // 2·b·sin(σ/2); a 1% slack absorbs the geodetic-vs-geocentric
          // latitude distortion of σ (< 0.4%). The ∞ sentinel (pole in the
          // neighborhood) passes through untouched.
          hav.withColumn("__bnd",
            when(col("__bnd") >= lit(1e15), lit(Double.MaxValue))
              .otherwise(lit(0.99 * 2.0 * graft.geom.Geodesy.PolarRadiusMeters) *
                sin(col("__bnd") / lit(2.0 * graft.geom.Geodesy.EarthRadiusMeters))))
        }
      }
    val q = withBound
      // 3×3 neighborhood: own cell + ≤8 neighbors (wraps lon, clamps poles)
      .withColumn("__cell", explode(array_union(array(col("__qc")), st.cellNeighbors(col("__qc")))))
      .drop("__qc", "__minx", "__miny")

    val joined = q.join(d, Seq("__cell"), "inner")
    val dist =
      if (geodetic && metric == "vincenty")
        st.vincentyMeters(joined(qlonName), joined(qlatName), joined(dlonName), joined(dlatName))
      else if (geodetic) haversineCol(joined(qlonName), joined(qlatName), joined(dlonName), joined(dlatName))
      else {
        val dx = joined(dlonName) - joined(qlonName)
        val dy = joined(dlatName) - joined(qlatName)
        dx * dx + dy * dy
      }
    val cand = joined.withColumn("__d", dist)
    val w = Window.partitionBy(qidName).orderBy(col("__d").asc, col(dataIdName).asc)
    val ranked = cand
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)

    // resolves iff rank-k exists and the k-th distance is within the bound
    // (planar __d is SQUARED degrees, so compare against __bnd²)
    val kdOk =
      if (geodetic) col("__kd") <= col("__r")
      else col("__kd") <= col("__r") * col("__r")
    // min(__bnd) not first(): __bnd is functionally determined by the query
    // id, but first() is a NON-DETERMINISTIC aggregate in Spark and blocks
    // exchange reuse — the ranked window's exchange would be recomputed for
    // the resolved-set subtree (the same recompute trap fixed in Dedup)
    val resolved = ranked.groupBy(col(qidName).as("__rqid"))
      .agg(count(lit(1)).as("__n"), max(col("__d")).as("__kd"), min(col("__bnd")).as("__r"))
      .filter(col("__n") === k && kdOk)
      .select("__rqid")

    val rankedResolved = ranked
      .join(broadcast(resolved), col(qidName) === col("__rqid"), "left_semi")
      .drop("__cell", "__bnd", "__d")
    val unresolved = queries
      .join(broadcast(resolved), col(qidName) === col("__rqid"), "left_anti")
    (rankedResolved, unresolved)
  }

  /** Brute-force kNN (small query side broadcast): the exact baseline and
    * the ladder's last resort. */
  private def knnBrute(
      queries: DataFrame, qlonName: String, qlatName: String,
      data: DataFrame, dlonName: String, dlatName: String,
      dataIdName: String, k: Int, geodetic: Boolean,
      metric: String = "haversine"): DataFrame =
    if (geodetic) knnGeodetic(queries, qlonName, qlatName, data, dlonName, dlatName, dataIdName, k, metric)
    else knnPlanar(queries, qlonName, qlatName, data, dlonName, dlatName, dataIdName, k)

  /** Brute-force geodetic kNN: haversine- (or Vincenty-) meters rank per
    * query (reference ranks kNN by Vincenty, GeomDistance.scala:84-140;
    * haversine is this engine's default — deviation recorded in SURVEY §8). */
  def knnGeodetic(
      queries: DataFrame, qlonName: String, qlatName: String,
      data: DataFrame, dlonName: String, dlatName: String,
      dataIdName: String, k: Int, metric: String = "haversine"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = data.crossJoin(broadcast(queries))
    val withDist = joined.withColumn("__dm",
      if (metric == "vincenty")
        st.vincentyMeters(joined(qlonName), joined(qlatName), joined(dlonName), joined(dlatName))
      else
        haversineCol(joined(qlonName), joined(qlatName), joined(dlonName), joined(dlatName)))
    val qKeys = queries.columns.filter(c => c != qlonName && c != qlatName)
    val w = Window.partitionBy(qKeys.map(col): _*)
      .orderBy(col("__dm").asc, col(dataIdName).asc)
    withDist.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .drop("__dm")
  }

  def knnPlanar(
      queries: DataFrame, qlonName: String, qlatName: String,
      data: DataFrame, dlonName: String, dlatName: String,
      dataIdName: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = data.crossJoin(broadcast(queries))
    val dx = joined(dlonName) - joined(qlonName)
    val dy = joined(dlatName) - joined(qlatName)
    val withDist = joined.withColumn("__dist2", dx * dx + dy * dy)
    val qKeys = queries.columns.filter(c => c != qlonName && c != qlatName)
    val w = Window.partitionBy(qKeys.map(col): _*)
      .orderBy(col("__dist2").asc, col(dataIdName).asc)
    withDist.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .drop("__dist2")
  }

  /**
   * BBOX filter with antimeridian wrap (reference P5:
   * getInternationalDateLineSafeGeometry, GeohashUtils.scala:665-721):
   * `xmin > xmax` means the window crosses ±180 and splits into two
   * disjoint boxes OR'd together. Both branches go through the St*
   * predicates, so the whole-world-elision and range-pushdown optimizer
   * rules see ordinary spatial conjuncts.
   */
  def bboxFilter(df: DataFrame, geom: Column,
                 xmin: Double, ymin: Double, xmax: Double, ymax: Double): DataFrame =
    if (xmin <= xmax)
      df.filter(st.intersects(st.makeBox(lit(xmin), lit(ymin), lit(xmax), lit(ymax)), geom))
    else
      df.filter(
        st.intersects(st.makeBox(lit(xmin), lit(ymin), lit(180.0), lit(ymax)), geom) ||
        st.intersects(st.makeBox(lit(-180.0), lit(ymin), lit(xmax), lit(ymax)), geom))
}
