package graft

import graft.functions.TextRT
import graft.index.S2Lite
import org.apache.spark.sql.functions._

/** S2-style cube-face Hilbert index: curve properties, hierarchy, neighbor
  * correctness (including cross-face), cover soundness, SQL surface. */
class S2LiteSpec extends SparkSpec {

  private def rnd(seed: Long): Double = (TextRT.mix64(seed) & 0xffffffffL).toDouble / 0x100000000L.toDouble
  private def rndLon(seed: Long): Double = rnd(seed) * 360.0 - 180.0
  private def rndLat(seed: Long): Double = rnd(seed * 7 + 1) * 178.0 - 89.0

  test("hilbert: d <-> (x,y) round-trip and unit-step adjacency") {
    for (level <- Seq(1, 3, 6, 10)) {
      val n = 1L << level
      val total = n * n
      val probe = (0L until math.min(total, 4096L))
      probe.foreach { d =>
        val (x, y) = S2Lite.hilbertXY(level, d)
        assert(x >= 0 && x < n && y >= 0 && y < n)
        assert(S2Lite.hilbertPos(level, x, y) === d, s"level=$level d=$d")
      }
      // consecutive curve positions are grid neighbors (locality property)
      probe.drop(1).foreach { d =>
        val (x0, y0) = S2Lite.hilbertXY(level, d - 1)
        val (x1, y1) = S2Lite.hilbertXY(level, d)
        assert(math.abs(x1 - x0) + math.abs(y1 - y0) === 1, s"level=$level d=$d")
      }
    }
  }

  test("hierarchy: parent(encode(p, L), L') == encode(p, L') — Hilbert prefix property") {
    (0 until 300).foreach { i =>
      val lon = rndLon(i); val lat = rndLat(i)
      val fine = S2Lite.encode(lon, lat, 12)
      for (coarse <- Seq(0, 3, 7, 11)) {
        assert(S2Lite.parent(fine, coarse) === S2Lite.encode(lon, lat, coarse),
          s"point ($lon,$lat) level $coarse")
      }
    }
  }

  test("center round-trip: encode(center(id)) == id, all faces + poles") {
    val pts = (0 until 200).map(i => (rndLon(i * 13 + 5), rndLat(i * 13 + 5))) ++
      Seq((0.0, 89.99), (0.0, -89.99), (179.99, 0.0), (-179.99, 0.0), (45.0, 35.26))
    pts.foreach { case (lon, lat) =>
      for (l <- Seq(2, 6, 10)) {
        val id = S2Lite.encode(lon, lat, l)
        val (clon, clat) = S2Lite.center(id)
        assert(S2Lite.encode(clon, clat, l) === id, s"($lon,$lat) level $l")
      }
    }
  }

  test("neighbors: 3-8 distinct cells, never self, geometrically adjacent (cross-face included)") {
    val pts = (0 until 150).map(i => (rndLon(i * 31 + 2), rndLat(i * 31 + 2))) ++
      Seq((44.9, 35.2), (0.0, 89.9), (-179.95, 10.0)) // face corner, pole, antimeridian
    pts.foreach { case (lon, lat) =>
      val l = 7
      val id = S2Lite.encode(lon, lat, l)
      val nb = S2Lite.neighbors(id)
      assert(nb.distinct.length === nb.length)
      assert(!nb.contains(id))
      assert(nb.length >= 3 && nb.length <= 8, s"($lon,$lat): ${nb.length}")
      // each neighbor's center is within ~3 cell diagonals angularly
      val cellAngle = 90.0 / (1L << l)
      val (clon, clat) = S2Lite.center(id)
      nb.foreach { b =>
        val (blon, blat) = S2Lite.center(b)
        val dm = graft.geom.Geodesy.haversineMeters(clon, clat, blon, blat)
        assert(dm < 3 * 1.5 * cellAngle * 111320.0, s"neighbor too far at ($lon,$lat)")
      }
      // same-face neighbors are symmetric
      nb.filter(b => S2Lite.faceOf(b) == S2Lite.faceOf(id)).foreach { b =>
        assert(S2Lite.neighbors(b).contains(id), s"asymmetric neighbor at ($lon,$lat)")
      }
    }
  }

  test("coverBBox soundness: every point inside a box encodes into the cover") {
    (0 until 40).foreach { i =>
      val w = rnd(i * 3 + 11) * 20 + 0.1
      val h = rnd(i * 3 + 12) * 10 + 0.1
      val x0 = rndLon(i * 3 + 13).min(180 - w)
      val y0 = (rndLat(i * 3 + 14) - h).max(-89)
      val level = 6
      val cover = S2Lite.coverBBox(x0, y0, x0 + w, y0 + h, level).toSet
      (0 until 200).foreach { j =>
        val px = x0 + rnd(i * 1000 + j * 2) * w
        val py = y0 + rnd(i * 1000 + j * 2 + 1) * h
        assert(cover.contains(S2Lite.encode(px, py, level)),
          s"box($x0,$y0,${x0 + w},${y0 + h}) missing point ($px,$py); cover=${cover.size}")
      }
    }
  }

  test("no polar singularity: polar cap cells are regular and join-able") {
    val polar = S2Lite.encode(13.0, 89.995, 10)
    assert(S2Lite.neighbors(polar).length >= 3)
    // Z2 at the same res degenerates to a single row of huge-aspect cells;
    // S2 cells near the pole stay within bounded aspect (quadratic metric)
    val (lonC, latC) = S2Lite.center(polar)
    assert(math.abs(latC) > 89.0)
  }

  test("containsJoinS2: broadcast and salted paths match the Z2 join exactly") {
    import graft.pages.WebPages
    val regions = WebPages.regions(spark, sfDir)
      .select("region_id", "xmin", "ymin", "xmax", "ymax", "region_geom")
    val pts = WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("region_id", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = pairs(graft.ops.SpatialJoin.containsJoin(
      regions.select("region_id", "region_geom"), "region_geom",
      WebPages.pages(spark, sfDir).select("doc_id", "geom"), "geom"))
    val bcast = pairs(graft.ops.SpatialJoin.containsJoinS2(
      regions, "xmin", "ymin", "xmax", "ymax", "region_geom",
      pts, "lon", "lat", broadcastPolys = Some(true)))
    // the 5% sample finds no hot cell in the fixture's 500 sparse pages:
    // take every occupied probe cell as hot, so every match goes through
    // the salted branch's replicate and scatter
    val levels = graft.ops.SpatialJoin.S2Levels
    val finest = graft.functions.st.s2Encode(col("lon"), col("lat"), lit(levels.last))
    val hot = histogramHotCells(pts,
      levels.toSeq.map(l => graft.functions.st.s2Parent(finest, lit(l))), 0L)
    assert(hot.nonEmpty)
    assert(hot.map(S2Lite.levelOf).distinct.length >= 2, hot.toSeq)
    val covers = regions.select(explode(graft.functions.st.s2CoverBudget(
      col("xmin"), col("ymin"), col("xmax"), col("ymax"),
      lit(graft.ops.SpatialJoin.S2Budget), typedLit(levels))).as("c"))
    assert(!covers.filter(col("c").isin(hot.toSeq: _*)).isEmpty, "no build row covers a hot cell")
    val salted = pairs(graft.ops.SpatialJoin.containsJoinS2(
      regions, "xmin", "ymin", "xmax", "ymax", "region_geom",
      pts, "lon", "lat", broadcastPolys = Some(false), salts = 4, knownHotCells = Some(hot)))
    assert(bcast === expect)
    assert(salted === expect)
    assert(expect.nonEmpty)
  }

  test("s2_cover_budget: per-row level — a world-sized box degrades only itself") {
    import graft.functions.st
    import spark.implicits._
    val df = Seq(
      (1L, -0.1, -0.1, 0.1, 0.1),          // small box → fine level
      (2L, -179.9, -84.9, 179.9, 84.9))    // world box → coarse level
      .toDF("id", "xmin", "ymin", "xmax", "ymax")
    val covers = df.select(col("id"), st.s2CoverBudget(col("xmin"), col("ymin"),
        col("xmax"), col("ymax"), lit(graft.ops.SpatialJoin.S2Budget),
        typedLit(graft.ops.SpatialJoin.S2Levels)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val smallLv = covers(1L).map(S2Lite.levelOf).distinct
    val worldLv = covers(2L).map(S2Lite.levelOf).distinct
    assert(smallLv === Seq(graft.ops.SpatialJoin.S2Levels.last),
      s"small box must keep the finest level, got $smallLv")
    assert(worldLv.forall(_ <= 4), s"world box must degrade itself, got $worldLv")
    assert(covers(2L).size <= graft.ops.SpatialJoin.S2Budget * 3,
      "world cover stays budget-bounded")
  }

  test("containsJoinS2: a world-sized outlier polygon leaves results exact") {
    import graft.pages.WebPages
    import graft.functions.st
    val world = WebPages.regions(spark, sfDir).limit(1).selectExpr(
        "CAST(9999 AS BIGINT) AS region_id",
        "-1799e-1 AS xmin", "-849e-1 AS ymin", "1799e-1 AS xmax", "849e-1 AS ymax")
      .withColumn("region_geom", st.makeBox(col("xmin"), col("ymin"), col("xmax"), col("ymax")))
    val regions = WebPages.regions(spark, sfDir)
      .select("region_id", "xmin", "ymin", "xmax", "ymax", "region_geom")
      .union(world)
    val pts = WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("region_id", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = pairs(graft.ops.SpatialJoin.containsJoin(
      regions.select("region_id", "region_geom"), "region_geom",
      WebPages.pages(spark, sfDir).select("doc_id", "geom"), "geom"))
    val got = pairs(graft.ops.SpatialJoin.containsJoinS2(
      regions, "xmin", "ymin", "xmax", "ymax", "region_geom",
      pts, "lon", "lat", broadcastPolys = Some(true)))
    assert(got === expect)
    val inWorld = pts.filter(col("lon") > -179.9 && col("lon") < 179.9 &&
      col("lat") > -84.9 && col("lat") < 84.9).count()
    assert(expect.count(_._1 == 9999L) === inWorld,
      "world polygon pairs with every in-box point")
  }

  test("SQL surface: s2_encode / s2_parent / s2_neighbors / s2_cover_bbox") {
    val row = spark.sql(
      """SELECT s2_encode(10.5D, 45.5D, 8) AS c,
        |       s2_parent(s2_encode(10.5D, 45.5D, 8), 4) AS p,
        |       size(s2_neighbors(s2_encode(10.5D, 45.5D, 8))) AS nn,
        |       size(s2_cover_bbox(10D, 45D, 11D, 46D, 8)) AS nc""".stripMargin).head()
    assert(row.getLong(0) === S2Lite.encode(10.5, 45.5, 8))
    assert(row.getLong(1) === S2Lite.encode(10.5, 45.5, 4))
    assert(row.getInt(2) === 8)
    assert(row.getInt(3) > 0)
  }
}
