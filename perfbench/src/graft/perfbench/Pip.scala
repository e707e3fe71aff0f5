package graft.perfbench

import scala.collection.mutable

import graft.functions.{st, StContains}
import graft.ops.{Density, SpatialJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayContains, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** Point-in-polygon join measurement and output checks. */
object Pip {
  /** Brute-force sample sizes: ~1/every of the points. */
  val SampleEvery = 500L

  /** Join keys of an equi-join node. */
  def joinKeys(n: SparkPlan): Seq[Expression] = n match {
    case j: HashJoin => j.leftKeys ++ j.rightKeys
    case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
    case _ => Nil
  }

  /** Output rows of the equi-joins keyed on column `key`. */
  def joinRowsOn(ns: Seq[SparkPlan], key: String): Long =
    PlanWalk.sum(ns.filter(joinKeys(_).exists(_.references.exists(_.name == key))), "numOutputRows")

  private def refines(e: Expression): Boolean = e.find(_.isInstanceOf[StContains]).isDefined

  /** Join nodes whose keys are the cover join's cell columns. */
  def cellJoins(ns: Seq[SparkPlan]): Seq[SparkPlan] =
    ns.filter(joinKeys(_).exists(_.references.exists(_.name == "__qcell")))

  def generateRows(ns: Seq[SparkPlan], output: String): Long =
    ns.collect { case g: GenerateExec if g.generatorOutput.exists(_.name == output) =>
      PlanWalk.metric(g, "numOutputRows") }.sum

  /** Engine's strategy choice, read from the analyzed plan: the salted
    * path adds the `__qsalt` column, the broadcast path does not. */
  def shuffled(joined: DataFrame): Boolean =
    joined.queryExecution.analyzed.toString.contains("__qsalt")

  /** Hot cells the salted path used: the cell list its `__qsalt` column
    * tests membership in, read from the analyzed plan. */
  def hotCellsUsed(joined: DataFrame): Int =
    joined.queryExecution.analyzed.collectFirst {
      case p: Project if p.projectList.exists(_.name == "__qsalt") =>
        p.projectList.filter(_.name == "__qsalt").flatMap(_.collect {
          case ArrayContains(Literal(a: ArrayData, _), _) => a.numElements()
        }).sum
    }.getOrElse(0)

  /** Probe side of the Z2 cover join, built as `SpatialJoin.polygonsWithPoints`
    * builds it: one cell per ladder level per point. */
  def z2ProbeCells(pts: DataFrame): DataFrame = {
    val levels = SpatialJoin.DefaultLevels
    val finest = levels.last
    pts.select(explode(array(levels.map(r =>
      if (r == finest) st.cellOf(col("geom"), lit(finest))
      else st.cellParent(st.cellOf(col("geom"), lit(finest)), lit(r))): _*)).as("__qcell"))
  }

  /** Exact number of cell-key matches of the Z2 cover join (its candidate
    * pairs), from per-cell counts of both sides: no pair is materialized. */
  def z2Candidates(polys: DataFrame, pts: DataFrame): Long = {
    val build = polys.select(explode(st.cellCoverBudget(col("region_geom"),
        lit(SpatialJoin.DefaultBudget), typedLit(SpatialJoin.DefaultLevels))).as("c"))
      .groupBy("c").agg(count(lit(1)).as("nb"))
    val probe = z2ProbeCells(pts).groupBy(col("__qcell").as("c")).agg(count(lit(1)).as("np"))
    build.join(probe, "c").agg(coalesce(sum(col("nb") * col("np")), lit(0L))).collect()(0).getLong(0)
  }

  /** Z2 join against one build side ("broadcast": the fixture regions,
    * "salted": the skewed polygons): timed plan + action, per-layer values
    * under `join.<side>.` in traced repetitions. Returns the pair digest,
    * the joined frame and the seconds the join took. */
  def z2Join(ctx: Ctx, side: String, polys: DataFrame, pts: DataFrame, rows: Long): Option[(Digest, DataFrame, Double)] = {
    val build = polys.select("region_id", "region_geom")
    val p = s"join.$side"
    ctx.op(s"pip.z2_${side}_join") {
      val (joined, planMs) = ctx.timeMs(s"$p.plan") {
        SpatialJoin.containsJoin(build, "region_geom", pts.select("doc_id", "geom"), "geom")
      }
      val (d, q) = ctx.tracer.span(s"$p.execute")(Digest.of(joined, "region_id", "doc_id"))
      (joined, d, q, planMs)
    }.map { case ((joined, d, q, planMs), secs) =>
      ctx.sample(if (side == "broadcast") "pip_z2_rows_per_s" else "pip_z2_salted_rows_per_s", rows / secs)
      // the optimizer's size estimate of the build side, which the
      // engine's broadcast probe reads, the choice it made, and the join
      // operator adaptive execution finally ran
      ctx.decisions(s"$p.build_size_estimate") = build.queryExecution.optimizedPlan.stats.sizeInBytes.toString
      val salted = shuffled(joined)
      ctx.decisions(s"$p.strategy") = if (salted) "shuffled" else "broadcast"
      if (salted) ctx.decisions(s"$p.hot_cells") = hotCellsUsed(joined).toString
      ctx.decisions(s"$p.exec") = cellJoins(PlanWalk.nodes(q.queryExecution.executedPlan))
        .map(_.nodeName).distinct.mkString(",")
      if (ctx.traced) joinLayers(ctx, p, joined, q, polys, pts, d, planMs, salted)
      (d, joined, secs)
    }
  }

  private def joinLayers(ctx: Ctx, p: String, joined: DataFrame, q: DataFrame, polys: DataFrame, pts: DataFrame,
                         d: Digest, planMs: Double, salted: Boolean): Unit = {
    val ns = PlanWalk.nodes(q.queryExecution.executedPlan)
    val joinRows = joinRowsOn(ns, "__qcell")
    val refineFilters = ns.collect { case f: FilterExec if refines(f.condition) => f }
    // the refine either stays a Filter above the equi-join (join rows are
    // the candidates) or is folded into the join condition (join rows are
    // already refined, so candidates come from the per-cell counts)
    val candidates =
      if (refineFilters.nonEmpty) joinRows
      else ctx.tracer.span(s"$p.candidates")(z2Candidates(polys, pts))
    val refined = d.rows
    ctx.layer(s"$p.plan_ms", planMs)
    ctx.layer(s"$p.strategy", if (salted) 1.0 else 0.0)
    ctx.layer(s"$p.probe_rows", generateRows(ns, "__qcell").toDouble)
    ctx.layer(s"$p.candidates", candidates.toDouble)
    ctx.layer(s"$p.refined", refined.toDouble)
    ctx.layer(s"$p.refine_yield", if (candidates > 0) refined.toDouble / candidates else 0.0)
    val bx = ns.collect { case b: BroadcastExchangeExec => b }
    ctx.layer(s"$p.broadcast_bytes", PlanWalk.sum(bx, "dataSize").toDouble)
    ctx.layer(s"$p.broadcast_build_ms", PlanWalk.sum(bx, "buildTime").toDouble)
    ctx.lastSpanSpark(s"$p.execute").foreach { s =>
      // task CPU time per candidate pair: the cost of probe + exact refine
      ctx.layer(s"$p.refine_ns_per_candidate", if (candidates > 0) s.cpuS * 1e9 / candidates else 0.0)
      ctx.layer(s"$p.shuffle_bytes", s.shuffleWriteBytes.toDouble)
      ctx.layer(s"$p.max_part_bytes", s.maxTaskShuffleReadBytes.toDouble)
      ctx.layer(s"$p.task_skew", s.taskSkew)
    }
    if (salted) {
      ctx.layer(s"$p.salted_build_rows", generateRows(ns, "__psalt").toDouble)
      ctx.layer(s"$p.hot_cells", hotCellsUsed(joined).toDouble)
      // the hot-cell sample is the one Spark job the salted path runs while
      // planning (the size probe reads plan statistics): its wall time
      ctx.lastSpanSpark(s"$p.plan").foreach { s =>
        ctx.decisions(s"$p.plan_jobs") = s.jobs.toString
        ctx.layer(s"$p.hot_cell_sample_ms", s.jobS * 1e3)
      }
    }
  }

  /** Cover size and time per cell family, calling the cover kernels directly. */
  def coverLayers(ctx: Ctx, polys: DataFrame, families: Seq[String]): Unit = if (ctx.traced) {
    val n = polys.count().toDouble
    families.foreach { f =>
      val cover = f match {
        case "z2" => st.cellCoverBudget(col("region_geom"), lit(SpatialJoin.DefaultBudget),
          typedLit(SpatialJoin.DefaultLevels))
        case "s2" => st.s2CoverBudget(col("xmin"), col("ymin"), col("xmax"), col("ymax"),
          lit(SpatialJoin.S2Budget), typedLit(SpatialJoin.S2Levels))
        case "hex" => st.hexCoverBudget(col("xmin"), col("ymin"), col("xmax"), col("ymax"),
          lit(SpatialJoin.HexBudget), typedLit(SpatialJoin.HexLevels))
      }
      val (cells, ms) = ctx.timeMs(s"index.cover.$f") {
        polys.agg(coalesce(sum(size(cover)), lit(0L))).collect()(0).getLong(0)
      }
      ctx.layer(s"index.cover_cells_per_poly.$f", cells / n)
      ctx.layer(s"index.cover_ms.$f", ms)
    }
  }

  /** Encode cost per point and family: an aggregate over the cell at
    * every ladder level minus the same aggregate over the raw coordinates,
    * divided by the encodes done. */
  def encodeLayers(ctx: Ctx, pts: DataFrame, rows: Long): Unit = if (ctx.traced) {
    def aggMs(name: String, cs: Seq[org.apache.spark.sql.Column]): Double =
      ctx.timeMs(name)(pts.agg(max(greatest(cs: _*))).collect())._2
    val base = aggMs("index.encode.base", Seq(col("lon"), col("lat")))
    def lon = col("lon"); def lat = col("lat")
    Seq(
      "z2" -> SpatialJoin.DefaultLevels.toSeq.map(r => st.z2Encode(lon, lat, lit(r))),
      "s2" -> SpatialJoin.S2Levels.toSeq.map(l => st.s2Encode(lon, lat, lit(l))),
      "hex" -> SpatialJoin.HexLevels.toSeq.map(l => st.hexEncode(lon, lat, lit(l)))
    ).foreach { case (f, cs) =>
      val ms = aggMs(s"index.encode.$f", cs)
      ctx.layer(s"index.${f}_encode_ns_per_row", math.max(0.0, ms - base) * 1e6 / (rows.toDouble * cs.size))
    }
  }

  /** Brute-force oracle on a seeded sample of points: (region_id, doc_id)
    * pairs by plain range tests against each box. */
  def bruteSample(ctx: Ctx, pts: DataFrame, boxes: DataFrame, every: Long): Set[(Long, Long)] = {
    val s = pts.filter(Inputs.sampled(ctx.seed, col("doc_id"), every)).select("doc_id", "lon", "lat")
    s.join(broadcast(boxes.select("region_id", "xmin", "ymin", "xmax", "ymax")),
        col("lon") > col("xmin") && col("lon") < col("xmax") &&
          col("lat") > col("ymin") && col("lat") < col("ymax"))
      .select("region_id", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  def joinedSample(ctx: Ctx, joined: DataFrame, every: Long): Set[(Long, Long)] =
    joined.filter(Inputs.sampled(ctx.seed, col("doc_id"), every))
      .select("region_id", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Checks one family's sampled pairs against the brute-force oracle. */
  def checkSample(ctx: Ctx, family: String, joined: DataFrame, truth: Set[(Long, Long)], every: Long): Unit = {
    val got = joinedSample(ctx, joined, every)
    ctx.check(s"$family.sample_vs_brute_force", got == truth,
      s"${got.size} pairs vs ${truth.size} brute-force; missing ${(truth -- got).take(3)}, extra ${(got -- truth).take(3)}")
  }

  /** Checks that every repetition of an operation returned one digest. */
  def checkStable(ctx: Ctx, name: String, ds: Seq[Digest]): Unit =
    ctx.check(s"$name.repeatable", ds.distinct.size <= 1, s"digests differ across repetitions: ${ds.distinct}")
}

/**
 * Skewed page points joined against two build sides, one on each side of
 * the engine's broadcast-vs-salted choice:
 *
 *  - a slice of the points against the sf0.1 fixture's 1,000 region boxes
 *    through the Z2, S2 and hex cover joins, then density grid and tiles:
 *    the broadcast read path, no shuffle of the big side;
 *  - all points against a large polygon set concentrated over the hot
 *    spots: the engine's own size probe picks the salted shuffle, with
 *    hot-cell sampling and per-key fan-out. Nothing is forced by argument.
 */
object PipW extends Workload {
  val name = "pip"
  /** Point rows joined per second over the four point-in-polygon joins of
    * a repetition: more timed work, so a steadier figure than any one. */
  val mainSample = "pip_join_rows_per_s"
  val CountryPerCity = 8
  private val digests = mutable.Map.empty[String, Seq[Digest]].withDefaultValue(Nil)
  private val lastJoin = mutable.Map.empty[String, DataFrame]

  private def ptsPath(ctx: Ctx) = s"${ctx.dataDir}/points"
  private def regPath(ctx: Ctx) = s"${ctx.dataDir}/regions"
  private def polyPath(ctx: Ctx) = s"${ctx.dataDir}/polys"
  /** All points: enough that a hot spot holds more rows than the engine's
    * hot-cell threshold (`SpatialJoin.HotCellRows`). */
  private def rows(ctx: Ctx) = ctx.rows(1200000L)
  /** The slice the broadcast-side operations read. */
  private def sliceRows(ctx: Ctx) = ctx.rows(150000L)
  private def hotSmall(ctx: Ctx) = ctx.rows(6000L)
  private def worldSmall(ctx: Ctx) = ctx.rows(250000L)
  def rowsPerRep(ctx: Ctx): Long = 3 * sliceRows(ctx) + rows(ctx)
  def tables(ctx: Ctx): Seq[(String, Seq[String])] = Seq(
    ptsPath(ctx) -> Seq("doc_id", "lon", "lat", "sec"),
    regPath(ctx) -> Seq("region_id", "xmin", "ymin", "xmax", "ymax"),
    polyPath(ctx) -> Seq("region_id", "xmin", "ymin", "xmax", "ymax"))

  def setup(ctx: Ctx): Unit = {
    Inputs.points(ctx.spark, ctx.seed, rows(ctx), 4 * ctx.nproc).select("doc_id", "lon", "lat", "sec", "geom")
      .write.mode("overwrite").parquet(ptsPath(ctx))
    Inputs.regions(ctx.spark).write.mode("overwrite").parquet(regPath(ctx))
    Inputs.skewedRegions(ctx.spark, ctx.seed, CountryPerCity, hotSmall(ctx), worldSmall(ctx))
      .write.mode("overwrite").parquet(polyPath(ctx))
    ctx.inputs("points") = rows(ctx)
    ctx.inputs("points_broadcast_slice") = sliceRows(ctx)
    ctx.inputs("regions") = 1000
    ctx.inputs("polygons") = CountryPerCity * Inputs.Cities.size + hotSmall(ctx) + worldSmall(ctx)
  }

  private def record(k: String, d: Digest): Unit = digests(k) = digests(k) :+ d

  private def slice(ctx: Ctx, pts: DataFrame) = pts.filter(col("doc_id") < sliceRows(ctx))

  def rep(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val all = spark.read.parquet(ptsPath(ctx))
    val pts = slice(ctx, all)
    val n = sliceRows(ctx)
    val regs = spark.read.parquet(regPath(ctx))
    val polys = spark.read.parquet(polyPath(ctx))

    val joinSecs = mutable.ArrayBuffer.empty[Double]
    Pip.z2Join(ctx, "broadcast", regs, pts, n).foreach { case (d, joined, secs) =>
      record("z2", d)
      lastJoin("broadcast") = joined
      joinSecs += secs
    }
    val pts3 = pts.select("doc_id", "lon", "lat")
    Seq(
      ("s2", "pip_s2_rows_per_s", () => SpatialJoin.containsJoinS2(
        regs, "xmin", "ymin", "xmax", "ymax", "region_geom", pts3, "lon", "lat")),
      ("hex", "pip_hex_rows_per_s", () => SpatialJoin.containsJoinHex(
        regs, "xmin", "ymin", "xmax", "ymax", "region_geom", pts3, "lon", "lat"))
    ).foreach { case (family, metric, join) =>
      ctx.op(s"pip.${family}_join")(Digest.of(join(), "region_id", "doc_id")._1).foreach { case (d, secs) =>
        ctx.sample(metric, n / secs)
        record(family, d)
        joinSecs += secs
      }
    }

    val grid = ctx.op("density.grid") {
      val g = Density.grid(pts, col("lon"), col("lat"), -180.0, -85.0, 180.0, 85.0, 1024, 512)
      val r = g.agg(count(lit(1)), coalesce(sum("n"), lit(0L))).collect()(0)
      Digest(r.getLong(0), r.getLong(1))
    }
    val tiles = ctx.op("density.tiles") {
      val t = Density.tiles(pts, col("lon"), col("lat"), col("sec").cast("double"), 10.0, 64, 64)
      val r = t.agg(count(lit(1)), coalesce(sum(length(col("tile"))), lit(0L))).collect()(0)
      Digest(r.getLong(0), r.getLong(1))
    }
    for ((g, gs) <- grid; (t, ts) <- tiles) {
      ctx.sample("tile_rows_per_s", n / (gs + ts))
      record("grid", g)
      record("tiles", t)
      if (ctx.traced) {
        ctx.layer("density.cells_out", g.rows.toDouble)
        ctx.layer("density.exec_s", gs + ts)
        val sh = Seq("density.grid", "density.tiles").flatMap(ctx.lastSpanSpark).map(_.shuffleWriteBytes).sum
        ctx.layer("density.shuffle_bytes", sh.toDouble)
      }
    }

    Pip.z2Join(ctx, "salted", polys, all, rows(ctx)).foreach { case (d, joined, secs) =>
      record("z2_salted", d)
      lastJoin("salted") = joined
      joinSecs += secs
    }
    if (joinSecs.size == 4) ctx.sample(mainSample, rowsPerRep(ctx) / joinSecs.sum)
    Pip.coverLayers(ctx, polys, Seq("z2", "s2", "hex"))
    Pip.encodeLayers(ctx, all, rows(ctx))
  }

  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val all = spark.read.parquet(ptsPath(ctx))
    val pts = slice(ctx, all)
    val regs = spark.read.parquet(regPath(ctx))
    val polys = spark.read.parquet(polyPath(ctx))
    Seq("z2", "s2", "hex", "grid", "tiles", "z2_salted").foreach(k => Pip.checkStable(ctx, k, digests(k)))
    val z2 = digests("z2").headOption
    Seq("s2", "hex").foreach { f =>
      ctx.check(s"$f.same_pairs_as_z2", digests(f).headOption == z2, s"$f ${digests(f).headOption} vs z2 $z2")
    }
    for ((side, boxes, input, every) <- Seq(
        ("broadcast", regs, pts, Pip.SampleEvery), ("salted", polys, all, 4 * Pip.SampleEvery))) {
      val truth = Pip.bruteSample(ctx, input, boxes, every)
      ctx.check(s"z2_$side.sample_nonempty", truth.nonEmpty, "brute-force sample found no pairs")
      lastJoin.get(side).foreach(Pip.checkSample(ctx, s"z2_$side", _, truth, every))
    }
    val inBox = pts.filter(col("lon") >= -180.0 && col("lon") < 180.0 &&
      col("lat") >= -85.0 && col("lat") < 85.0).count()
    digests("grid").headOption.foreach(g =>
      ctx.check("density.grid_sums_to_rows", g.hash == inBox, s"grid sum ${g.hash} vs $inBox rows in box"))
    val tileCount = pts.select(floor((col("lon") + 180.0) / 10.0), floor((col("lat") + 90.0) / 10.0))
      .distinct().count()
    digests("tiles").headOption.foreach(t =>
      ctx.check("density.tile_count", t.rows == tileCount, s"${t.rows} tiles vs $tileCount occupied"))
  }
}
