package graft

import graft.functions.st
import graft.geom.GeomCodec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

/** ST_* expressions vs direct JTS oracle (SURVEY.md §5 adopted strategy:
  * per-expression unit tests against JTS). Mirrors the reference's
  * predicate whitelist semantics (core/filter/package.scala:248-259). */
class GeomExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // deterministic mixed geometry corpus: points, boxes, polygons, lines
  private val wkts: Seq[String] = {
    val rnd = new scala.util.Random(7)
    def pt() = { val x = rnd.nextDouble() * 20 - 10; val y = rnd.nextDouble() * 20 - 10; f"POINT ($x%.4f $y%.4f)" }
    def box() = {
      val x = rnd.nextDouble() * 16 - 8; val y = rnd.nextDouble() * 16 - 8
      val w = rnd.nextDouble() * 4 + 0.1; val h = rnd.nextDouble() * 4 + 0.1
      f"POLYGON (($x%.3f $y%.3f, ${x + w}%.3f $y%.3f, ${x + w}%.3f ${y + h}%.3f, $x%.3f ${y + h}%.3f, $x%.3f $y%.3f))"
    }
    def line() = {
      val x = rnd.nextDouble() * 16 - 8; val y = rnd.nextDouble() * 16 - 8
      f"LINESTRING ($x%.3f $y%.3f, ${x + rnd.nextDouble() * 5}%.3f ${y + rnd.nextDouble() * 5}%.3f)"
    }
    Seq.fill(12)(pt()) ++ Seq.fill(12)(box()) ++ Seq.fill(8)(line())
  }

  private def jts(w: String): Geometry = GeomCodec.fromWkt(w)

  private val pairs = for (a <- wkts; b <- wkts) yield (a, b)

  test("binary predicates match JTS on a mixed corpus (incl. via SQL)") {
    val df = pairs.toDF("wa", "wb")
      .withColumn("ga", st.geomFromWKT($"wa")).withColumn("gb", st.geomFromWKT($"wb"))
    val got = df.select(
      $"wa", $"wb",
      st.contains($"ga", $"gb"), st.intersects($"ga", $"gb"), st.within($"ga", $"gb"),
      st.covers($"ga", $"gb"), st.overlaps($"ga", $"gb"), st.crosses($"ga", $"gb"),
      st.touches($"ga", $"gb"), st.disjoint($"ga", $"gb"), st.equalsGeom($"ga", $"gb"),
      st.dwithinDeg($"ga", $"gb", lit(1.5))
    ).collect()
    got.foreach { r =>
      val (a, b) = (jts(r.getString(0)), jts(r.getString(1)))
      assert(r.getBoolean(2) === a.contains(b), s"contains ${r.getString(0)} ${r.getString(1)}")
      assert(r.getBoolean(3) === a.intersects(b), "intersects")
      assert(r.getBoolean(4) === a.within(b), "within")
      assert(r.getBoolean(5) === a.covers(b), "covers")
      assert(r.getBoolean(6) === a.overlaps(b), "overlaps")
      assert(r.getBoolean(7) === a.crosses(b), "crosses")
      assert(r.getBoolean(8) === a.touches(b), "touches")
      assert(r.getBoolean(9) === a.disjoint(b), "disjoint")
      assert(r.getBoolean(10) === a.equalsTopo(b), "equals")
      assert(r.getBoolean(11) === a.isWithinDistance(b, 1.5), "dwithinDeg")
    }
  }

  test("measures and accessors match JTS") {
    val df = wkts.toDF("w").withColumn("g", st.geomFromWKT($"w"))
    df.select($"w", st.area($"g"), st.lengthGeom($"g"), st.xmin($"g"), st.ymin($"g"),
        st.xmax($"g"), st.ymax($"g"), st.geometryType($"g"))
      .collect().foreach { r =>
        val g = jts(r.getString(0))
        assert(r.getDouble(1) === g.getArea)
        assert(r.getDouble(2) === g.getLength)
        assert(r.getDouble(3) === g.getEnvelopeInternal.getMinX)
        assert(r.getDouble(4) === g.getEnvelopeInternal.getMinY)
        assert(r.getDouble(5) === g.getEnvelopeInternal.getMaxX)
        assert(r.getDouble(6) === g.getEnvelopeInternal.getMaxY)
        assert(r.getString(7) === g.getGeometryType)
      }
  }

  test("constructors/transforms: point, makebox, centroid, envelope, buffer, union round-trip WKT") {
    val r = spark.sql(
      """SELECT st_astext(st_point(1e0, 2e0)),
        |       st_astext(st_makebox(0e0, 0e0, 2e0, 1e0)),
        |       st_astext(st_centroid(st_makebox(0e0, 0e0, 2e0, 2e0))),
        |       st_x(st_point(3e0, 4e0)), st_y(st_point(3e0, 4e0)),
        |       st_area(st_buffer(st_point(0e0, 0e0), 1e0)) > 3e0,
        |       st_area(st_union(st_makebox(0e0,0e0,1e0,1e0), st_makebox(1e0,0e0,2e0,1e0)))
        |""".stripMargin).head()
    assert(r.getString(0) === "POINT (1 2)")
    assert(r.getString(1) === "POLYGON ((0 0, 0 1, 2 1, 2 0, 0 0))")
    assert(r.getString(2) === "POINT (1 1)")
    assert(r.getDouble(3) === 3.0 && r.getDouble(4) === 4.0)
    assert(r.getBoolean(5)) // buffer area ≈ π
    assert(math.abs(r.getDouble(6) - 2.0) < 1e-9)
  }

  test("st_dwithin (meters) agrees with haversine ground truth on points") {
    // 0.1 degree of longitude at lat 40 ≈ 8.5 km
    val df = Seq((-75.0, 40.0, -74.9, 40.0)).toDF("ax", "ay", "bx", "by")
    val got = df.select(
      st.dwithin(st.point($"ax", $"ay"), st.point($"bx", $"by"), lit(10000.0)),
      st.dwithin(st.point($"ax", $"ay"), st.point($"bx", $"by"), lit(5000.0)),
      st.distanceSphere(st.point($"ax", $"ay"), st.point($"bx", $"by")),
      st.distanceSpheroid(st.point($"ax", $"ay"), st.point($"bx", $"by"))).head()
    assert(got.getBoolean(0) === true)
    assert(got.getBoolean(1) === false)
    assert(math.abs(got.getDouble(2) - 8514.0) < 100.0) // haversine ~8.51km
    assert(math.abs(got.getDouble(3) - 8525.0) < 100.0) // vincenty slightly larger
  }

  test("null propagation across the surface") {
    val r = spark.sql(
      """SELECT st_contains(CAST(NULL AS BINARY), st_point(0e0,0e0)),
        |       st_astext(CAST(NULL AS BINARY)),
        |       cell_of(CAST(NULL AS BINARY), 8),
        |       st_point(CAST(NULL AS DOUBLE), 1e0)""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }

  test("st_contains(g, st_point(x, y)): generated code == interpreted, nulls included") {
    import org.apache.spark.sql.types._
    val box = GeomCodec.toWkb(GeomCodec.box(0, 0, 2, 2))
    val tri = GeomCodec.toWkb(GeomCodec.fromWkt("POLYGON ((0 0, 2 0, 1 2, 0 0))"))
    val xys = Seq[(java.lang.Double, java.lang.Double)]((1.0, 1.0), (0.0, 1.0), (1.5, 0.2), (3.0, 1.0),
      (Double.NaN, 1.0), (1.0, Double.PositiveInfinity), (null, 1.0), (1.0, null))
    val rows = for (g <- Seq(box, tri, null); (x, y) <- xys) yield Row(g, x, y)
    val schema = StructType(Seq(StructField("g", BinaryType), StructField("x", DoubleType), StructField("y", DoubleType)))
    // an RDD source, so the optimizer cannot fold the projection over a local relation
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.zipWithIndex.map {
      case (r, i) => Row.fromSeq(i +: r.toSeq) }, 2), StructType(StructField("id", IntegerType) +: schema.fields))
    def run(): Seq[Row] =
      df.selectExpr("id", "st_contains(g, st_point(x, y)) AS c").collect().sortBy(_.getInt(0)).toSeq
    val generated = df.selectExpr("st_contains(g, st_point(x, y))").queryExecution.debug.codegenToSeq()
    assert(generated.exists(_._2.contains("GeomRT.containsXY(")), generated.map(_._2).mkString.take(2000))
    val codegen = run()
    val interpreted = withSqlConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(codegen === interpreted)
    val byId = codegen.map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getBoolean(1)))).toMap
    rows.zipWithIndex.foreach { case (Row(g, x, y), i) =>
      val want = if (g == null || x == null || y == null) None
        else Some(GeomCodec.fromWkb(g.asInstanceOf[Array[Byte]]).contains(
          GeomCodec.point(x.asInstanceOf[Double], y.asInstanceOf[Double])))
      assert(byId(i) === want, s"row $i")
    }
    assert(byId.values.count(_.contains(true)) === 4 && byId.values.count(_.isEmpty) === 12)
  }

  test("N-ary kernels: generated code == interpreted == a direct kernel call, nulls included") {
    import graft.functions.GeomRT
    import graft.index.{HexLite, S2Lite, Z3}
    import org.apache.spark.sql.types._
    val boxes = Seq[Seq[java.lang.Double]](Seq(-10.0, -5.0, 12.0, 8.0), Seq(100.0, 40.0, 100.5, 40.2),
      Seq(-180.0, -90.0, 180.0, 90.0), Seq(null, 0.0, 1.0, 1.0), Seq(0.0, null, 1.0, 1.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(boxes.zipWithIndex.map {
        case (b, i) => Row.fromSeq(i +: b) }, 2),
      StructType(StructField("id", IntegerType) +: Seq("x0", "y0", "x1", "y1").map(StructField(_, DoubleType))))
    val lv = Array(2, 4, 6, 8)
    val Seq(x0, y0, x1, y1) = Seq("x0", "y0", "x1", "y1").map(col)
    val cols = Seq(
      st.vincentyMeters(x0, y0, x1, y1),
      st.gridCells(st.makeBox(x0, y0, x1, y1), lit(-180.0), lit(-90.0), lit(180.0), lit(90.0), lit(36), lit(18)),
      st.z3Encode(x0, y0, lit(259200L), lit(86400L), lit(10)),
      st.s2CoverBBox(x0, y0, x1, y1, lit(4)),
      st.s2CoverBudget(x0, y0, x1, y1, lit(64), typedLit(lv)),
      st.s2CoverLevel(x0, y0, x1, y1, lit(64), typedLit(lv)),
      st.hexCoverBBox(x0, y0, x1, y1, lit(2)),
      st.hexCoverBudget(x0, y0, x1, y1, lit(64), typedLit(lv)),
      st.hexCoverLevel(x0, y0, x1, y1, lit(64), typedLit(lv)))
    def kernels(a: Double, b: Double, c: Double, d: Double): Seq[Any] = Seq(
      graft.geom.Geodesy.vincentyMeters(a, b, c, d),
      GeomRT.gridCells(GeomRT.makeBox(a, b, c, d), -180.0, -90.0, 180.0, 90.0, 36, 18).toSeq,
      Z3.encode(a, b, 259200L, 86400L, 10),
      S2Lite.coverBBox(a, b, c, d, 4).toSeq, S2Lite.coverBBoxBudget(a, b, c, d, 64, lv).toSeq,
      S2Lite.chooseLevel(a, b, c, d, 64, lv),
      HexLite.coverBBox(a, b, c, d, 2).toSeq, HexLite.coverBudget(a, b, c, d, 64, lv).toSeq,
      HexLite.chooseRes(a, b, c, d, 64, lv))
    def run(): Seq[Row] = df.select(col("id") +: cols: _*).collect().sortBy(_.getInt(0)).toSeq
    val codegen = run()
    val interpreted = withSqlConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(codegen === interpreted)
    codegen.zip(boxes).foreach { case (r, b) =>
      val want = if (b.contains(null)) Seq.fill(cols.size)(null) else kernels(b(0), b(1), b(2), b(3))
      assert(r.toSeq.tail === want, s"box $b")
    }
    // plans name each call by its SQL function
    assert(df.select(cols(4)).queryExecution.analyzed.toString.contains("s2_cover_budget(x0#"))
  }

  test("cell expressions agree with Z2 core") {
    import graft.index.Z2
    val r = spark.sql(
      """SELECT z2_encode(-75.5e0, 40.2e0, 12),
        |       cell_of(st_point(-75.5e0, 40.2e0), 12),
        |       cell_parent(z2_encode(-75.5e0, 40.2e0, 12), 5),
        |       size(cell_neighbors(z2_encode(0e0, 0e0, 5))),
        |       st_astext(cell_box(z2_encode(0.1e0, 0.1e0, 2)))""".stripMargin).head()
    val expect = Z2.encode(-75.5, 40.2, 12)
    assert(r.getLong(0) === expect)
    assert(r.getLong(1) === expect)
    assert(r.getLong(2) === Z2.parent(expect, 5))
    assert(r.getInt(3) === 8)
    assert(r.getString(4) === "POLYGON ((0 0, 0 45, 90 45, 90 0, 0 0))")
  }

  test("cell_cover: exact covering of polygon vs per-cell JTS intersects") {
    val wkt = "POLYGON ((-10 -10, 30 -10, 30 15, -10 15, -10 -10))"
    val rows = spark.sql(
      s"SELECT explode(cell_cover(st_geomfromwkt('$wkt'), 6)) AS cell").collect()
    val g = jts(wkt)
    import graft.index.Z2
    val cells = rows.map(_.getLong(0)).toSet
    // every returned cell intersects the polygon
    cells.foreach { id =>
      val (x0, y0, x1, y1) = Z2.bounds(id)
      assert(g.intersects(GeomCodec.box(x0, y0, x1, y1)))
    }
    // every point sampled inside the polygon is in a returned cell
    val rnd = new scala.util.Random(3)
    (0 until 200).foreach { _ =>
      val x = rnd.nextDouble() * 40 - 10; val y = rnd.nextDouble() * 25 - 10
      assert(cells.contains(Z2.encode(x, y, 6)))
    }
  }

  test("fromWkbFast decodes 2D points bit-exactly and falls back on everything else") {
    val wkt = Seq(
      "POINT (12.3456789 -45.654321)", "POINT (-180 90)", "POINT (0 0)",
      "LINESTRING (0 0, 1 1)", "POLYGON ((0 0, 1 0, 1 1, 0 0))",
      "MULTIPOINT ((1 2), (3 4))")
    wkt.foreach { w =>
      val g = GeomCodec.fromWkt(w)
      val le = GeomCodec.toWkb(g) // JTS writes little-endian (byte 0 == 1)
      assert(GeomCodec.fromWkbFast(le).equalsExact(g), w)
      // big-endian variant of the same geometry
      val be = new org.locationtech.jts.io.WKBWriter(2, org.locationtech.jts.io.ByteOrderValues.BIG_ENDIAN).write(g)
      assert(GeomCodec.fromWkbFast(be).equalsExact(g), s"BE $w")
    }
    // EWKB-style SRID point (25 bytes) must take the fallback reader path
    val srid = new org.locationtech.jts.io.WKBWriter(2, true).write(GeomCodec.point(3.5, -7.25))
    assert(srid.length != 21)
    assert(GeomCodec.fromWkbFast(srid).equalsExact(GeomCodec.point(3.5, -7.25)))
  }

  test("whole-stage codegen keeps ST predicates inline (no CodegenFallback in hot filter)") {
    val df = graft.pages.WebPages.pages(spark, sfDir)
      .filter(st.contains(st.makeBox(lit(-80.0), lit(35.0), lit(-70.0), lit(45.0)), col("geom")))
    val plan = df.queryExecution.executedPlan.toString()
    // every operator in the plan must sit inside a codegen stage ("*(n)"
    // prefix) — a bare "+- Filter" would mean an expression fell back
    val bare = plan.linesIterator.filter(_.contains("Filter ")).filterNot(_.contains("*("))
    assert(bare.isEmpty, s"non-codegen Filter in plan:\n$plan")
    assert(plan.contains("*("), plan.take(500))
  }
}
