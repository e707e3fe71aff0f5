package graft

import graft.meta.FeatureSpec
import graft.ops.{Density, SpatialJoin}
import graft.pages.WebPages
import graft.tools.QueryStats
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ring-kNN join, tile render, spec-string parity, query-stats listener. */
class KnnMetaSpec extends SparkSpec {
  private def asL(r: Row, i: Int): Long = r.get(i) match {
    case l: java.lang.Long => l
    case n: java.lang.Number => n.longValue()
  }

  test("knnJoin == knnPlanar at several resolutions (resolve + fallback paths)") {
    val ctrs = WebPages.nationCenters(spark, sfDir).select("n_nationkey", "clon", "clat")
    val pts = WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat")
    val expect = SpatialJoin.knnPlanar(ctrs, "clon", "clat", pts, "lon", "lat", "doc_id", 5)
      .select("n_nationkey", "doc_id", "rank").collect()
      .map(r => (asL(r, 0), asL(r, 1), asL(r, 2))).toSet
    // coarse res: most queries resolve in-ring; fine res: most fall back —
    // both paths must agree with the oracle
    Seq(3, 6, 9).foreach { res =>
      val got = SpatialJoin.knnJoin(ctrs, "n_nationkey", "clon", "clat",
          pts, "lon", "lat", "doc_id", 5, res)
        .select("n_nationkey", "doc_id", "rank").collect()
        .map(r => (asL(r, 0), asL(r, 1), asL(r, 2))).toSet
      assert(got === expect, s"res=$res")
    }
  }

  test("geodetic knnJoin == brute-force haversine, including |lat| > 60 queries") {
    import spark.implicits._
    // high-latitude centers where planar and geodetic neighbor sets diverge
    val ctrs = Seq((1L, 10.0, 72.0), (2L, -150.0, -75.0), (3L, 179.5, 65.0), (4L, 0.0, 0.5))
      .toDF("qid", "clon", "clat")
    val pts = WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat")
    val expect = SpatialJoin.knnGeodetic(ctrs, "clon", "clat", pts, "lon", "lat", "doc_id", 5)
      .select("qid", "doc_id", "rank").collect()
      .map(r => (asL(r, 0), asL(r, 1), asL(r, 2))).toSet
    Seq(3, 5, 8).foreach { res =>
      val got = SpatialJoin.knnJoin(ctrs, "qid", "clon", "clat",
          pts, "lon", "lat", "doc_id", 5, res, geodetic = true)
        .select("qid", "doc_id", "rank").collect()
        .map(r => (asL(r, 0), asL(r, 1), asL(r, 2))).toSet
      assert(got === expect, s"geodetic res=$res")
    }
  }

  test("vincenty metric: knnJoin == brute Vincenty ranks at high latitude") {
    import spark.implicits._
    val ctrs = Seq((1L, 10.0, 72.0), (2L, -150.0, -75.0), (3L, 179.5, 65.0))
      .toDF("qid", "clon", "clat")
    val pts = WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat")
    val expect = SpatialJoin.knnGeodetic(ctrs, "clon", "clat", pts, "lon", "lat",
        "doc_id", 5, metric = "vincenty")
      .select("qid", "doc_id", "rank").collect()
      .map(r => (asL(r, 0), asL(r, 1), asL(r, 2))).toSet
    Seq(3, 5).foreach { res =>
      val got = SpatialJoin.knnJoin(ctrs, "qid", "clon", "clat",
          pts, "lon", "lat", "doc_id", 5, res, geodetic = true, metric = "vincenty")
        .select("qid", "doc_id", "rank").collect()
        .map(r => (asL(r, 0), asL(r, 1), asL(r, 2))).toSet
      assert(got === expect, s"vincenty res=$res")
    }
  }

  test("vincenty vs haversine: measurable divergence, bounded by the 1% slack") {
    import graft.geom.Geodesy
    // meridional pair near the pole: ellipsoid arc is ~0.4% longer than the
    // mean-radius sphere's — the divergence the metric flag exists for
    val v = Geodesy.vincentyMeters(10.0, 70.0, 10.0, 75.0)
    val h = Geodesy.haversineMeters(10.0, 70.0, 10.0, 75.0)
    assert(math.abs(v - h) / h > 2e-3, s"v=$v h=$h")
    // certificate soundness: vincenty ≥ 0.99 · 2b·sin(σ/2) on a probe grid
    for (lat1 <- Seq(-80.0, -40.0, 0.0, 40.0, 80.0); dlon <- Seq(0.5, 5.0, 60.0); dlat <- Seq(0.0, 3.0)) {
      val vv = Geodesy.vincentyMeters(0.0, lat1, dlon, lat1 + dlat)
      val hh = Geodesy.haversineMeters(0.0, lat1, dlon, lat1 + dlat)
      val chord = 0.99 * 2.0 * Geodesy.PolarRadiusMeters *
        math.sin(hh / (2.0 * Geodesy.EarthRadiusMeters))
      assert(vv >= chord, s"lat1=$lat1 dlon=$dlon dlat=$dlat vv=$vv chord=$chord")
    }
  }

  test("brute tail is elided from the final adaptive plan when the ladder resolves all") {
    import spark.implicits._
    // controlled fixture: every query has 10 immediate neighbors, so the
    // kth distance sits far inside the ring bound at res 4 and EVERY query
    // resolves at rung 1. The crossJoin-based brute tail then receives an
    // empty query side and AQE's empty-relation propagation must remove
    // the nested-loop join from the FINAL plan.
    val centers = Seq((1L, 0.1, 0.1), (2L, 50.2, 10.3), (3L, -120.4, -30.2), (4L, 100.0, 60.0))
    val qs = centers.toDF("qid", "clon", "clat")
    val pts = centers.flatMap { case (q, lon, lat) =>
      (0 until 10).map(i => (q * 100 + i, lon + i * 0.01, lat + i * 0.008))
    }.toDF("doc_id", "lon", "lat")
    val df = SpatialJoin.knnJoin(qs, "qid", "clon", "clat",
      pts, "lon", "lat", "doc_id", 5, res = 4)
    val rows = df.collect() // materialize so AQE finalizes the plan
    assert(rows.length === 4 * 5, "every query returns exactly k rows")
    // inspect ONLY the final adaptive plan (the string also prints the
    // initial plan, where the nested-loop join legitimately still appears)
    val finalPlan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"),
      s"brute tail must be elided:\n${finalPlan.take(3000)}")
    assert(finalPlan.contains("EmptyRelation"),
      "the brute branch must collapse to an empty relation")
  }

  test("resolved-set computation reuses the ranked exchange (min, not first)") {
    import spark.implicits._
    // same all-resolve fixture as the brute-elision test: rung 1 ranks all
    // candidates, then the resolution test aggregates the SAME ranked frame.
    // Because every aggregate is deterministic (min(__bnd), not first()),
    // the window's shuffle exchange must be REUSED by the resolved-set
    // subtree instead of recomputing the join+window from the leaves —
    // first() is a non-deterministic aggregate and silently blocked reuse
    val centers = Seq((1L, 0.1, 0.1), (2L, 50.2, 10.3), (3L, -120.4, -30.2))
    val qs = centers.toDF("qid", "clon", "clat")
    val pts = centers.flatMap { case (q, lon, lat) =>
      (0 until 10).map(i => (q * 100 + i, lon + i * 0.01, lat + i * 0.008))
    }.toDF("doc_id", "lon", "lat")
    val df = SpatialJoin.knnJoin(qs, "qid", "clon", "clat",
      pts, "lon", "lat", "doc_id", 5, res = 4)
    assert(df.collect().length === 3 * 5)
    val finalPlan = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(finalPlan.contains("ReusedExchange") || finalPlan.contains("ReusedQueryStage"),
      s"ranked exchange must be reused by the resolution test:\n${finalPlan.take(3000)}")
  }

  test("ladder fallback: fine start resolution re-probes coarser before brute force") {
    val ctrs = WebPages.nationCenters(spark, sfDir).select("n_nationkey", "clon", "clat")
    val pts = WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat")
    val expect = SpatialJoin.knnPlanar(ctrs, "clon", "clat", pts, "lon", "lat", "doc_id", 5)
      .select("n_nationkey", "doc_id", "rank").collect()
      .map(r => (asL(r, 0), asL(r, 1), asL(r, 2))).toSet
    // res=12 on sf0.001 leaves nearly every query unresolved at rung 1; the
    // rung at res-3=9 and the brute tail must still produce exact results
    val got = SpatialJoin.knnJoin(ctrs, "n_nationkey", "clon", "clat",
        pts, "lon", "lat", "doc_id", 5, res = 12, ladderStep = 3, ladderRungs = 3)
      .select("n_nationkey", "doc_id", "rank").collect()
      .map(r => (asL(r, 0), asL(r, 1), asL(r, 2))).toSet
    assert(got === expect)
  }

  test("tile render: bytes buffer per tile, max-normalized, correct pixel placement") {
    import spark.implicits._
    val df = Seq(
      (10.5, 10.5, 1.0),  // tile (19,10) at 10-deg tiles, pixel (0,0)
      (10.5, 10.6, 5.0),  // same pixel — max wins
      (15.5, 15.5, 3.0))  // same tile, pixel (4,4)
      .toDF("lon", "lat", "v")
    val tiles = Density.tiles(df, $"lon", $"lat", $"v", tileDeg = 10.0, w = 8, h = 8)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getAs[Array[Byte]](2))).toMap
    assert(tiles.keySet === Set((19, 10)))
    val buf = tiles((19, 10))
    assert(buf.length === 64)
    assert(buf.count(_ != 0) === 2)
    assert((buf(0) & 0xff) === 255) // pixel (0,0): max(1,5)=5 = tile max
    assert((buf(4 * 8 + 4) & 0xff) > 0)
    // the max-valued pixel gets the top of the byte range
    assert(buf.map(_ & 0xff).max === 255)

    // null values are skipped as max skips them: a pixel whose only value
    // is null stays 0, and a tile with no non-null value is not emitted
    val withNulls = Seq[(Double, Double, Option[Double])](
      (10.5, 10.5, Some(1.0)), (10.5, 10.6, Some(5.0)), (15.5, 15.5, Some(3.0)),
      (10.5, 10.6, None),       // null beside 5.0 in pixel (0,0)
      (12.8, 12.8, None),       // tile (19,10), pixel (2,2): only a null
      (35.5, 35.5, None), (36.5, 36.5, None)) // tile (21,12): only nulls
      .toDF("lon", "lat", "v")
    val nullTiles = Density.tiles(withNulls, $"lon", $"lat", $"v", tileDeg = 10.0, w = 8, h = 8)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getAs[Array[Byte]](2))).toMap
    assert(nullTiles.keySet === Set((19, 10)))
    assert(nullTiles((19, 10)).toSeq === buf.toSeq)
  }

  test("spec string -> StructType -> spec string round-trip with metadata") {
    val spec = "id:Long,*geom:Point:srid=4326,dtg:Date,tags:List[String],mt:Map[String,Double],n:Integer:index=full"
    val st = FeatureSpec.structType(spec)
    assert(st.fieldNames.toSeq === Seq("id", "geom", "dtg", "tags", "mt", "n"))
    assert(st("geom").dataType === BinaryType)
    assert(st("dtg").dataType === TimestampType)
    assert(st("tags").dataType === ArrayType(StringType))
    assert(st("mt").dataType === MapType(StringType, DoubleType))
    assert(FeatureSpec.defaultGeometry(st) === Some("geom"))
    assert(st("geom").metadata.getString("srid") === "4326")
    assert(st("n").metadata.getString("index") === "full")
    assert(FeatureSpec.encode(st) === spec)
  }

  test("query stats listener records per-action durations (reference QueryStat parity)") {
    QueryStats.install(spark)
    QueryStats.clear()
    spark.read.parquet(s"$sfDir/documents.parquet").groupBy("lang").count().collect()
    // listener delivery is async; poll briefly
    var tries = 0
    while (QueryStats.snapshot().isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
    val stats = QueryStats.snapshot()
    assert(stats.nonEmpty)
    assert(stats.exists(s => s.action == "collect" && s.durationNs > 0 && !s.failed))
  }
}
