package graft

import graft.functions.st
import graft.index.{HexLite, S2Lite, Z2}
import graft.ops.SpatialJoin
import graft.pages.WebPages
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** The shuffled cover join probes only the ladder levels the build side's
  * covers use (the level mask). The mask must hold every level a cover
  * uses, and the pruned join must return the broadcast path's pairs. */
class CoverLevelMaskSpec extends SparkSpec {

  /** One cell family as the join sees it: its ladder, the budgeted cover
    * and cover level of a box row, the level of a cell id, a point's cell
    * at every ladder level, and the family's join. */
  private case class Family(
      name: String, levels: Array[Int], cover: Column, level: Column, cellLevel: Long => Int,
      pointCells: Seq[Column],
      join: (DataFrame, DataFrame, Boolean, Option[Array[Long]]) => DataFrame)

  private def box(f: (Column, Column, Column, Column, Column, Column) => Column, budget: Int, levels: Array[Int]) =
    f(col("xmin"), col("ymin"), col("xmax"), col("ymax"), lit(budget), typedLit(levels))

  private val families = {
    import SpatialJoin._
    val (lon, lat) = (col("lon"), col("lat"))
    val z2Finest = st.cellOf(col("geom"), lit(DefaultLevels.last))
    val s2Finest = st.s2Encode(lon, lat, lit(S2Levels.last))
    Seq(
      Family("z2", DefaultLevels,
        st.cellCoverBudget(col("region_geom"), lit(DefaultBudget), typedLit(DefaultLevels)),
        st.cellCoverLevel(col("region_geom"), lit(DefaultBudget), typedLit(DefaultLevels)),
        Z2.resOf, DefaultLevels.toSeq.map(r => st.cellParent(z2Finest, lit(r))),
        (polys, pts, bcast, hot) => polygonsWithPoints(polys, col("region_geom"), pts, col("geom"),
          df => st.contains(df("region_geom"), df("geom")),
          broadcastPolys = Some(bcast), salts = 4, knownHotCells = hot)),
      Family("s2", S2Levels, box(st.s2CoverBudget, S2Budget, S2Levels), box(st.s2CoverLevel, S2Budget, S2Levels),
        S2Lite.levelOf, S2Levels.toSeq.map(l => st.s2Parent(s2Finest, lit(l))),
        (polys, pts, bcast, hot) => containsJoinS2(polys, "xmin", "ymin", "xmax", "ymax", "region_geom",
          pts, "lon", "lat", broadcastPolys = Some(bcast), salts = 4, knownHotCells = hot)),
      Family("hex", HexLevels, box(st.hexCoverBudget, HexBudget, HexLevels), box(st.hexCoverLevel, HexBudget, HexLevels),
        HexLite.resOf, HexLevels.toSeq.map(l => st.hexEncode(lon, lat, lit(l))),
        (polys, pts, bcast, hot) => containsJoinHex(polys, "xmin", "ymin", "xmax", "ymax", "region_geom",
          pts, "lon", "lat", broadcastPolys = Some(bcast), salts = 4, knownHotCells = hot)))
  }

  private type Box = (Long, Option[Double], Option[Double], Option[Double], Option[Double])

  private def boxFrame(rows: Seq[Box]): DataFrame = {
    import spark.implicits._
    rows.toDF("region_id", "xmin", "ymin", "xmax", "ymax")
      .withColumn("region_geom", st.makeBox(col("xmin"), col("ymin"), col("xmax"), col("ymax")))
  }

  private def some(id: Long, x0: Double, y0: Double, x1: Double, y1: Double): Box =
    (id, Some(x0), Some(y0), Some(x1), Some(y1))

  /** Edge-case boxes plus seeded boxes of log-uniform size anywhere. */
  private def propertyBoxes(seed: Long): Seq[Box] = {
    val rnd = new scala.util.Random(seed)
    val edges = Seq(
      some(1, -180.0, -90.0, 180.0, 90.0),        // world-sized
      some(2, 10.0, 10.0, 10.0000001, 10.0000001), // tiny
      some(3, 5.0, 5.0, 25.0, 5.0),               // zero-area: a line
      some(4, 1.0, 1.0, 1.0, 1.0),                // zero-area: a point
      some(5, -30.0, 85.0, 30.0, 90.0),           // north pole
      some(6, 100.0, -90.0, 120.0, -88.0),        // south pole
      some(7, -180.0, 60.0, 180.0, 90.0),         // polar cap band
      some(8, 170.0, -10.0, 180.0, 10.0),         // touches +180
      some(9, -180.0, 0.0, -179.5, 0.5),          // touches -180
      (10L, None, None, None, None))               // null geometry
    val random = (0 until 300).map { i =>
      val (w, h) = (math.pow(10, rnd.nextDouble() * 8.6 - 6), math.pow(10, rnd.nextDouble() * 8.3 - 6))
      val x0 = -180.0 + rnd.nextDouble() * 360.0
      val y0 = -90.0 + rnd.nextDouble() * 180.0
      some(100L + i, x0, y0, math.min(180.0, x0 + w), math.min(90.0, y0 + h))
    }
    edges ++ random
  }

  private def bits(levels: Iterable[Int]): Long = levels.foldLeft(0L)((m, l) => m | (1L << l))

  test("level mask holds the level of every cell of every budgeted cover (seeded, all families)") {
    for (seed <- Seq(3L, 17L, 41L); f <- families) {
      val df = boxFrame(propertyBoxes(seed))
      val mask = SpatialJoin.levelMask(df, f.level)
      val rows = df.select(col("region_id"), f.level, f.cover).collect()
      rows.foreach { r =>
        if (r.getLong(0) == 10L) assert(r.isNullAt(1) && r.isNullAt(2), s"${f.name}: null geometry")
        else {
          r.getSeq[Long](2).foreach { c =>
            val l = f.cellLevel(c)
            assert(l === r.getInt(1), s"${f.name} seed $seed box ${r.getLong(0)}")
            assert((mask >>> l & 1L) === 1L, s"${f.name} seed $seed: level $l not in mask $mask")
          }
        }
      }
      assert((mask & ~bits(f.levels)) === 0L, s"${f.name}: mask $mask outside the ladder")
    }
  }

  /** Fixture points plus seeded boxes of every size class centred on them:
    * (points, boxes using every ladder level, boxes using only two levels). */
  private def joinInputs(f: Family): (DataFrame, DataFrame, DataFrame) = {
    val pts = WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat", "geom")
    val centres = pts.select("lon", "lat").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val rnd = new scala.util.Random(29L)
    val boxes = (0 until 400).map { i =>
      val (cx, cy) = centres(rnd.nextInt(centres.length))
      val half = math.pow(10, rnd.nextDouble() * 4.3 - 2.2) / 2
      some(i.toLong, math.max(-180.0, cx - half), math.max(-90.0, cy - half),
        math.min(180.0, cx + half), math.min(90.0, cy + half))
    } :+ some(400L, -180.0, -90.0, 180.0, 90.0)
    val all = boxFrame(boxes).cache()
    val two = all.filter(f.level.isin(f.levels(1), f.levels.last))
    assert(SpatialJoin.levelMask(all, f.level) === bits(f.levels), s"${f.name}: not every level used")
    assert(SpatialJoin.levelMask(two, f.level) === bits(Seq(f.levels(1), f.levels.last)), f.name)
    (pts, all, two)
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("region_id", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Rows the probe-side explode emitted in the executed plan. */
  private def probeRows(joined: DataFrame): Long =
    nodes(joined.queryExecution.executedPlan).collect {
      case g: GenerateExec if g.generatorOutput.exists(_.name == "__qcell") => g.metrics("numOutputRows").value
    }.sum

  for (f <- families) {
    test(s"${f.name}: pruned shuffled join == broadcast join, on builds using two and all levels") {
      val (pts, all, two) = joinInputs(f)
      // the 5% sample finds no hot cell in the fixture's 500 sparse pages:
      // every occupied probe cell is hot, so matches take the salted branch
      val hot = histogramHotCells(pts, f.pointCells, 0L)
      assert(hot.map(f.cellLevel).distinct.length >= 2, hot.toSeq)
      for ((build, label) <- Seq(two -> "two levels", all -> "all levels")) {
        val covers = build.select(explode(f.cover).as("c"))
        assert(!covers.filter(col("c").isin(hot.toSeq: _*)).isEmpty, s"$label: no build row covers a hot cell")
        val expect = pairs(f.join(build, pts, true, None))
        assert(expect.nonEmpty, label)
        assert(pairs(f.join(build, pts, false, Some(hot))) === expect, label)
      }
    }

    test(s"${f.name}: the probe explode emits points x |mask| rows") {
      val (pts, _, two) = joinInputs(f)
      val n = pts.count()
      val shuffled = f.join(two, pts, false, Some(Array.empty[Long]))
      shuffled.collect()
      assert(probeRows(shuffled) === 2 * n)
      val broadcastJoin = f.join(two, pts, true, None)
      broadcastJoin.collect()
      assert(probeRows(broadcastJoin) === f.levels.length * n)
    }

    test(s"${f.name}: an empty or all-null build side returns an empty frame with the usual schema") {
      val (pts, all, _) = joinInputs(f)
      val usual = f.join(all, pts, true, None).schema
      val nulls = boxFrame(Seq((1L, None, None, None, None), (2L, None, None, None, None)))
      for (build <- Seq(all.filter(lit(false)), nulls)) {
        assert(SpatialJoin.levelMask(build, f.level) === 0L)
        val joined = f.join(build, pts, false, None)
        assert(joined.schema === usual)
        assert(joined.collect().isEmpty)
      }
    }
  }
}
