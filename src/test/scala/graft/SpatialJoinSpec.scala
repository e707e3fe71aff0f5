package graft

import graft.ops.SpatialJoin
import graft.pages.WebPages
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Join/tile parity vs brute-force JTS/planar cross-join oracles
  * (SURVEY.md §5: "engine output ≡ brute-force cross-join oracle"). Uses
  * the sf0.001 web-page fixtures — the same frames the driver's DuckDB
  * oracle checks, so failures here localize before the round gate. */
class SpatialJoinSpec extends SparkSpec {
  private def asL(r: Row, i: Int): Long = r.get(i) match {
    case l: java.lang.Long => l
    case n: java.lang.Number => n.longValue()
  }


  private lazy val pts = WebPages.pages(spark, sfDir)
    .select("doc_id", "lon", "lat").collect()
    .map(r => (asL(r, 0), r.getDouble(1), r.getDouble(2)))

  test("containsJoin == brute-force point-in-box oracle") {
    val polys = WebPages.regions(spark, sfDir)
    val boxes = polys.select("region_id", "xmin", "ymin", "xmax", "ymax").collect()
      .map(r => (asL(r, 0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val expect = (for {
      (rid, x0, y0, x1, y1) <- boxes
      (did, lon, lat) <- pts
      if lon > x0 && lon < x1 && lat > y0 && lat < y1
    } yield (rid, did)).toSet

    val got = SpatialJoin.containsJoin(
        polys.select("region_id", "region_geom"),
        "region_geom",
        WebPages.pages(spark, sfDir).select("doc_id", "geom"), "geom")
      .select("region_id", "doc_id").collect()
      .map(r => (asL(r, 0), asL(r, 1)))
    assert(got.length === got.toSet.size, "duplicate pairs emitted")
    assert(got.toSet === expect)
  }

  test("containsJoin: broadcast and shuffle paths agree") {
    val polys = WebPages.nationBoxes(spark, sfDir).select("n_nationkey", "nation_geom")
    val p = WebPages.pages(spark, sfDir).select("doc_id", "geom")
    def run(bcast: Boolean) = SpatialJoin.polygonsWithPoints(
        polys, col("nation_geom"), p, col("geom"),
        df => graft.functions.st.contains(df("nation_geom"), df("geom")),
        broadcastPolys = Some(bcast))
      .select("n_nationkey", "doc_id").collect().map(r => (asL(r, 0), asL(r, 1))).toSet
    assert(run(true) === run(false))
  }

  test("dwithinDegJoin == brute-force planar distance oracle") {
    val ctrs = WebPages.nationCenters(spark, sfDir)
    val cs = ctrs.select("n_nationkey", "clon", "clat").collect()
      .map(r => (asL(r, 0), r.getDouble(1), r.getDouble(2)))
    val radius = 2.0
    val expect = (for {
      (nk, cx, cy) <- cs
      (did, lon, lat) <- pts
      if (lon - cx) * (lon - cx) + (lat - cy) * (lat - cy) < radius * radius
    } yield (nk, did)).toSet
    val got = SpatialJoin.dwithinDegJoin(
        ctrs.select("n_nationkey", "clon", "clat"), "clon", "clat",
        WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat"), "lon", "lat", radius)
      .select("n_nationkey", "doc_id").collect().map(r => (asL(r, 0), asL(r, 1)))
    assert(got.length === got.toSet.size)
    assert(got.toSet === expect)
  }

  test("knnPlanar == brute-force sorted-distance oracle (ties by id)") {
    val k = 7
    val ctrs = WebPages.nationCenters(spark, sfDir)
    val cs = ctrs.select("n_nationkey", "clon", "clat").collect()
      .map(r => (asL(r, 0), r.getDouble(1), r.getDouble(2)))
    val expect = cs.flatMap { case (nk, cx, cy) =>
      pts.map { case (did, lon, lat) =>
        (nk, did, (lon - cx) * (lon - cx) + (lat - cy) * (lat - cy))
      }.sortBy { case (_, did, d2) => (d2, did) }.take(k)
        .zipWithIndex.map { case ((_, did, _), i) => (nk, did, (i + 1).toLong) }
    }.toSet
    val got = SpatialJoin.knnPlanar(
        ctrs.select("n_nationkey", "clon", "clat"), "clon", "clat",
        WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat"),
        "lon", "lat", "doc_id", k)
      .select("n_nationkey", "doc_id", "rank").collect()
      .map(r => (asL(r, 0), asL(r, 1), asL(r, 2))).toSet
    assert(got === expect)
  }

  test("geoparse is a pure projection: text/url byte-identical through the pipeline") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val paged = WebPages.pages(spark, sfDir).select("doc_id", "text").collect()
    paged.foreach { r => assert(r.getString(1) === docs(r.getLong(0))) }
  }

  test("salted shuffle path == broadcast path (skew handling preserves results)") {
    import graft.functions.st
    val polys = WebPages.regions(spark, sfDir).select("region_id", "region_geom")
    val p = WebPages.pages(spark, sfDir).select("doc_id", "geom")
    // the 5% sample finds no hot cell in the fixture's 500 sparse pages:
    // take every occupied probe cell as hot, so every match goes through
    // the salted branch's replicate and scatter
    val levels = SpatialJoin.DefaultLevels
    val finest = st.cellOf(col("geom"), lit(levels.last))
    val hot = histogramHotCells(p, levels.toSeq.map(r => st.cellParent(finest, lit(r))), 0L)
    assert(hot.nonEmpty)
    assert(hot.map(graft.index.Z2.resOf).distinct.length >= 2, hot.toSeq)
    val covers = polys.select(explode(st.cellCoverBudget(col("region_geom"),
      lit(SpatialJoin.DefaultBudget), typedLit(levels))).as("c"))
    assert(!covers.filter(col("c").isin(hot.toSeq: _*)).isEmpty, "no build row covers a hot cell")
    def run(salts: Int, bcast: Boolean, knownHot: Option[Array[Long]]) =
      SpatialJoin.polygonsWithPoints(
          polys, col("region_geom"), p, col("geom"),
          df => st.contains(df("region_geom"), df("geom")),
          broadcastPolys = Some(bcast), salts = salts, knownHotCells = knownHot)
        .select("region_id", "doc_id").collect().map(r => (asL(r, 0), asL(r, 1))).toSet
    val reference = run(1, true, None)
    assert(reference.nonEmpty)
    assert(run(8, false, Some(hot)) === reference)
  }

  test("bboxFilter wraps the antimeridian: xmin > xmax splits into two boxes") {
    import spark.implicits._
    val pts = Seq(
      (1L, 175.0, 0.0),   // east side of the wrap
      (2L, -175.0, 0.0),  // west side of the wrap
      (3L, 0.0, 0.0),     // outside (middle of the world)
      (4L, 175.0, 30.0),  // right lon, above the lat window
      (5L, 169.0, 0.0),   // just outside the east edge
      (6L, -169.0, 0.0))  // just outside the west edge
      .toDF("id", "lon", "lat")
      .withColumn("geom", graft.functions.st.point(col("lon"), col("lat")))
    val got = graft.ops.SpatialJoin.bboxFilter(pts, col("geom"), 170.0, -20.0, -170.0, 20.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L))
    // non-crossing boxes keep plain single-box semantics
    val plain = graft.ops.SpatialJoin.bboxFilter(pts, col("geom"), -1.0, -1.0, 1.0, 1.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(plain === Set(3L))
  }

  test("hotCells flags the planted city clusters at coarse resolution") {
    // 30% of pages sit in three 2x2-degree hot spots (WebPages geoparse) -
    // with a low threshold the sample histogram must surface them
    val p = WebPages.pages(spark, sfDir)
      .withColumn("__qcell", graft.functions.st.cellOf(col("geom"), lit(5)))
    val hot = p.sample(1.0, 42).groupBy("__qcell").count()
      .filter(col("count") > 20).select("__qcell").collect().map(_.getLong(0)).toSet
    assert(hot.nonEmpty, "expected hot cells from the city clusters")
  }
}
