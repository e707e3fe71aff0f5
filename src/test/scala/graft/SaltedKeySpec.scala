package graft

import graft.functions.st
import graft.index.{HexLite, S2Lite, Z2}
import graft.ops.SpatialJoin
import graft.pages.WebPages
import org.apache.spark.sql.execution.{SortExec, SortPrefixUtils, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The salted cover join packs (hot cell, salt) into one long join key:
  * the key is radix-sortable, and it is only correct if salted keys can
  * never collide with a cell id or with each other. */
class SaltedKeySpec extends SparkSpec {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  test("salted cover join: SortMergeJoin on one LongType key per side, radix-sortable") {
    val polys = WebPages.regions(spark, sfDir).select("region_id", "region_geom")
    val p = WebPages.pages(spark, sfDir).select("doc_id", "geom")
    val levels = SpatialJoin.DefaultLevels
    val finest = st.cellOf(col("geom"), lit(levels.last))
    val hot = histogramHotCells(p, levels.toSeq.map(r => st.cellParent(finest, lit(r))), 0L)
    assert(hot.nonEmpty)
    withSqlConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val joined = SpatialJoin.polygonsWithPoints(
        polys, col("region_geom"), p, col("geom"),
        df => st.contains(df("region_geom"), df("geom")),
        broadcastPolys = Some(false), salts = 8, knownHotCells = Some(hot))
      assert(joined.collect().nonEmpty)
      val ns = nodes(joined.queryExecution.executedPlan)
      val smj = ns.collect { case j: SortMergeJoinExec => j }
      assert(smj.length === 1, joined.queryExecution.executedPlan.toString)
      val j = smj.head
      assert(j.leftKeys.map(_.dataType) === Seq(LongType))
      assert(j.rightKeys.map(_.dataType) === Seq(LongType))
      assert((j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet ===
        Set("__qcell", "__pcell"))
      // the sorts feeding the merge order by that key alone, fully decided
      // by the sort prefix: the radix sort path, no row comparisons
      val sorts = nodes(j).collect { case s: SortExec => s }
      assert(sorts.length === 2)
      sorts.foreach { s =>
        assert(s.sortOrder.length === 1)
        assert(SortPrefixUtils.canSortFullyWithPrefix(s.sortOrder.head), s.sortOrder)
      }
    }
  }

  test("cell ids are non-negative at the finest level, corners and poles included") {
    val rnd = new scala.util.Random(7L)
    val edges = for (lon <- Seq(-180.0, -179.999999, -90.0, 0.0, 90.0, 179.999999, 180.0);
                     lat <- Seq(-90.0, -89.999999, -45.0, 0.0, 45.0, 89.999999, 90.0)) yield (lon, lat)
    val pts = edges ++ Seq.fill(2000)((rnd.nextDouble() * 360.0 - 180.0, rnd.nextDouble() * 180.0 - 90.0))
    pts.foreach { case (lon, lat) =>
      assert(Z2.encode(lon, lat, Z2.MaxRes) >= 0, s"Z2 ($lon, $lat)")
      assert(S2Lite.encode(lon, lat, S2Lite.MaxLevel) >= 0, s"S2 ($lon, $lat)")
      assert(HexLite.encode(lon, lat, HexLite.MaxRes) >= 0, s"hex ($lon, $lat)")
    }
  }

  test("salted keys are negative and pairwise distinct; cold cells keep their id") {
    import spark.implicits._
    val hot = (0L until 300L).map(i => Z2.encode(i * 1.19 - 179.0, i * 0.59 - 89.0, 12))
    assert(hot.distinct.length === 300)
    val cold = Seq(Z2.encode(0.5, 0.5, 3), S2Lite.encode(10.0, 10.0, 8), HexLite.encode(-20.0, 30.0, 5))
      .filterNot(hot.contains)
    for (salts <- Seq(2, 8)) {
      val rows = hot.flatMap(c => (0 until salts).map(s => (c, s))) ++ cold.map(c => (c, 0))
      val keys = rows.toDF("cell", "salt")
        .select(col("cell"), SpatialJoin.saltedKey(typedLit(hot), col("cell"), col("salt"), salts))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val (hotKeys, coldKeys) = keys.partition { case (c, _) => hot.contains(c) }
      assert(hotKeys.length === 300 * salts)
      assert(hotKeys.forall(_._2 < 0), s"salts=$salts")
      assert(hotKeys.map(_._2).distinct.length === hotKeys.length, s"salts=$salts")
      assert(coldKeys.forall { case (c, k) => c == k }, s"salts=$salts")
    }
  }
}
