package graft

import graft.functions.st
import graft.index.HexLite
import graft.ops.SpatialJoin
import graft.pages.WebPages
import org.apache.spark.sql.functions._

class HexLiteSpec extends SparkSpec {

  // deterministic sample points (includes cell-boundary-adjacent values via
  // the irrational stride)
  private val rnd = new scala.util.Random(20260817L)
  private def samples(n: Int): Seq[(Double, Double)] =
    Seq.fill(n)((rnd.nextDouble() * 359.98 - 179.99, rnd.nextDouble() * 169.98 - 84.99))

  test("encode is stable and the point lies within the cell's circumradius box") {
    for ((lon, lat) <- samples(300); res <- Seq(0, 2, 5, 8)) {
      val id = HexLite.encode(lon, lat, res)
      assert(HexLite.resOf(id) === res)
      val (x0, y0, x1, y1) = HexLite.bounds(id)
      assert(lon >= x0 - 1e-9 && lon <= x1 + 1e-9)
      assert(lat >= y0 - 1e-9 && lat <= y1 + 1e-9)
      // nearest-center property of cube rounding: re-encoding the center
      // returns the same cell
      val (cx, cy) = HexLite.center(id)
      assert(HexLite.encode(cx, cy, res) === id)
    }
  }

  test("point is closer to its own hex center than to any neighbor center") {
    for ((lon, lat) <- samples(300); res <- Seq(1, 3, 6)) {
      val id = HexLite.encode(lon, lat, res)
      // cube rounding in skewed axial space is not a perfect Euclidean
      // Voronoi assignment at the rounding boundary, but centers must agree
      // within a ulp-scale tolerance of the tie line
      val (cx, cy) = HexLite.center(id)
      val own = math.hypot(lon - cx, lat - cy)
      HexLite.neighbors(id).foreach { n =>
        val (nx, ny) = HexLite.center(n)
        assert(own <= math.hypot(lon - nx, lat - ny) + HexLite.sizeOf(res) * 1e-6)
      }
    }
  }

  test("neighbors: 6 distinct cells at the same res, symmetric") {
    val id = HexLite.encode(2.5, 48.9, 4)
    val ns = HexLite.neighbors(id)
    assert(ns.length === 6)
    assert(ns.distinct.length === 6)
    ns.foreach { n =>
      assert(HexLite.resOf(n) === 4)
      assert(HexLite.neighbors(n).contains(id))
    }
  }

  test("parent: nearest coarse hex to the child center, monotone through levels") {
    for ((lon, lat) <- samples(300)) {
      val fine = HexLite.encode(lon, lat, 6)
      val p3 = HexLite.parent(fine, 3)
      assert(HexLite.resOf(p3) === 3)
      // the child center lies within the parent's circumradius (the
      // center-containment property, up to cube-rounding tie lines)
      val (cx, cy) = HexLite.center(fine)
      val (px, py) = HexLite.center(p3)
      assert(math.hypot(cx - px, cy - py) <= HexLite.sizeOf(3) * 1.0000001)
      // NOTE: no geometric-re-encode equality assertion — child centers of
      // an aperture-4 grid sit EXACTLY on parent tie lines (r/8 ≡ .5), where
      // the algebraic path rounds deterministically but a re-encode of the
      // center through sqrt(3) world coords may round to the other
      // (equally correct) neighbor; the SQL-mirror parity test below pins
      // the contractual (algebraic) definition bit-for-bit
      assert(HexLite.parent(fine, 6) === fine)
    }
  }

  test("coverBBox is a superset: every point's hex is in its box's cover") {
    for ((lon, lat) <- samples(200); res <- Seq(2, 4, 5)) {
      val (x0, y0) = (lon - 0.7, lat - 0.4)
      val (x1, y1) = (lon + 0.9, lat + 0.6)
      val cover = HexLite.coverBBox(x0, y0, x1, y1, res).toSet
      assert(cover.contains(HexLite.encode(lon, lat, res)))
      // estimate bounds the enumeration
      assert(cover.size <= HexLite.coverEstimate(x0, y0, x1, y1, res))
    }
  }

  test("coverBudget picks the finest fitting level PER ROW") {
    val small = HexLite.coverBudget(0.0, 0.0, 1.0, 1.0, 256, SpatialJoin.HexLevels)
    val world = HexLite.coverBudget(-180.0, -85.0, 180.0, 85.0, 256, SpatialJoin.HexLevels)
    assert(HexLite.resOf(small.head) === 5) // finest ladder level fits a 1° box
    assert(HexLite.resOf(world.head) === 1) // a world box degrades only itself
    // coarsest-level floor: bounded by that level's own estimate
    assert(world.length <= HexLite.coverEstimate(-180.0, -85.0, 180.0, 85.0, 1))
  }

  test("SQL-fragment parity: OracleMirror.hexIdSql matches HexEncode bit-for-bit") {
    // the oracle's DuckDB fragment evaluated by Spark SQL must equal the
    // codegen'd kernel on the full fixture (both engines run IEEE doubles
    // through the identical op sequence, so Spark parity ⇒ DuckDB parity).
    // whole-stage codegen OFF for the mirror side: the test-only mega-
    // fragment overflows janino's 64 KB method limit and would silently
    // fall back to interpreted eval with an InternalCompilerException in
    // the log — running it interpreted on purpose keeps the log clean and
    // the production-plan codegen assertion (below) honest
    withSqlConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      Seq(0, 2, 5, 9).foreach { res =>
        val mism = WebPages.pages(spark, sfDir)
          .selectExpr("lon", "lat", s"${OracleMirror.hexIdSql("lon", "lat", res)} AS sql_id")
          .withColumn("kernel_id", st.hexEncode(col("lon"), col("lat"), lit(res)))
          .filter(col("sql_id") =!= col("kernel_id"))
          .count()
        assert(mism === 0, s"res $res")
      }
    }
  }

  test("SQL-fragment parity: rollup CTE chain matches hexParent(hexEncode)") {
    // interpreted-mode mirror evaluation — same rationale as above
    withSqlConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val (qf5, rf5) = OracleMirror.hexAxialSql("lon", "lat", 5)
      val (qd5, rd5) = OracleMirror.hexRoundedSql("qf", "rf")
      val u = OracleMirror.hexScaleLit(3)
      val (q2, r2) = OracleMirror.hexRoundedSql(s"(qd * $u)", s"(rd * $u)")
      val pages = WebPages.pages(spark, sfDir)
      pages.createOrReplaceTempView("__hex_pages")
      val sql = spark.sql(
        s"""WITH ax AS (SELECT doc_id, $qf5 AS qf, $rf5 AS rf FROM __hex_pages),
           |rd AS (SELECT doc_id, $qd5 AS qd, $rd5 AS rd FROM ax)
           |SELECT doc_id, ${OracleMirror.hexPackSql(q2, r2, 2)} AS sql_parent FROM rd""".stripMargin)
      val kernel = pages.select(col("doc_id"),
        st.hexParent(st.hexEncode(col("lon"), col("lat"), lit(5)), lit(2)).as("kernel_parent"))
      val mism = sql.join(kernel, "doc_id")
        .filter(col("sql_parent") =!= col("kernel_parent")).count()
      assert(mism === 0)
    }
  }

  test("production hex plans codegen cleanly — no janino fallback") {
    // fallback=false turns any codegen failure into a hard error instead of
    // a silent interpreted downgrade: the production hex_encode/hex_parent
    // expressions (compact kernel calls, unlike the mirror mega-fragments)
    // must compile inside whole-stage codegen
    withSqlConf("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.wholeStage" -> "true") {
      val df = WebPages.pages(spark, sfDir)
        .withColumn("h5", st.hexEncode(col("lon"), col("lat"), lit(5)))
        .groupBy(st.hexParent(col("h5"), lit(2)).as("p"))
        .agg(count(lit(1)).as("n"))
      assert(df.collect().nonEmpty)
      // codegen stages render as "*(n) Node" in the FINAL adaptive plan
      val finalPlan = df.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==")(0)
      assert(finalPlan.contains("*("),
        s"hex aggregate must run inside whole-stage codegen:\n${finalPlan.take(2000)}")
    }
  }

  test("containsJoinHex matches the exact contains join (broadcast and salted)") {
    val polys = WebPages.regions(spark, sfDir)
      .select("region_id", "xmin", "ymin", "xmax", "ymax", "region_geom")
    val pts = WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat")
    val expected = pts
      .join(polys, col("lon") > col("xmin") && col("lon") < col("xmax") &&
        col("lat") > col("ymin") && col("lat") < col("ymax"))
      .select("region_id", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the 5% sample finds no hot cell in the fixture's 500 sparse pages:
    // take every occupied probe cell as hot, so every match goes through
    // the salted branch's replicate and scatter
    val levels = SpatialJoin.HexLevels
    val hot = histogramHotCells(pts,
      levels.toSeq.map(l => st.hexEncode(col("lon"), col("lat"), lit(l))), 0L)
    assert(hot.nonEmpty)
    assert(hot.map(HexLite.resOf).distinct.length >= 2, hot.toSeq)
    val covers = polys.select(explode(st.hexCoverBudget(col("xmin"), col("ymin"), col("xmax"),
      col("ymax"), lit(SpatialJoin.HexBudget), typedLit(levels))).as("c"))
    assert(!covers.filter(col("c").isin(hot.toSeq: _*)).isEmpty, "no build row covers a hot cell")
    Seq(Some(true), Some(false)).foreach { bc =>
      val got = SpatialJoin.containsJoinHex(polys,
          "xmin", "ymin", "xmax", "ymax", "region_geom",
          pts, "lon", "lat", broadcastPolys = bc, knownHotCells = Some(hot))
        .select("region_id", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"broadcast=$bc")
    }
    assert(expected.nonEmpty)
  }

  test("hex SQL functions are registered") {
    // e-notation literals: plain 2.5 parses as DECIMAL, and these
    // expressions (like the other cell functions here) take raw doubles
    val r = spark.sql(
      "SELECT hex_parent(hex_encode(25e-1, 489e-1, 6), 3) AS p, " +
        "size(hex_neighbors(hex_encode(25e-1, 489e-1, 6))) AS n, " +
        "size(hex_cover_bbox(0e0, 0e0, 2e0, 2e0, 4)) AS c").head()
    assert(r.getLong(0) === HexLite.parent(HexLite.encode(2.5, 48.9, 6), 3))
    assert(r.getInt(1) === 6)
    assert(r.getInt(2) > 0)
  }
}
