package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable

import graft.cql.Ecql
import graft.index.Z2
import graft.layout.CellLayout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._

/** One seeded ECQL query against the layout table. */
final case class Query(id: Int, x0: Double, y0: Double, x1: Double, y1: Double,
                       t0: Long, t1: Long, lang: String, polygon: Boolean) {
  private def f(d: Double) = "%.4f".format(d)
  private def iso(s: Long) = Instant.ofEpochSecond(s).toString
  def ecql: String = {
    val space =
      if (polygon) s"INTERSECTS(geom, POLYGON((${f(x0)} ${f(y0)}, ${f(x1)} ${f(y0)}, " +
        s"${f(x1)} ${f(y1)}, ${f(x0)} ${f(y1)}, ${f(x0)} ${f(y0)})))"
      else s"BBOX(geom, ${f(x0)}, ${f(y0)}, ${f(x1)}, ${f(y1)})"
    s"$space AND dtg DURING ${iso(t0)}/${iso(t1)} AND lang = '$lang'"
  }
}

object Query {
  /** Query `id` of a run: ~30% small boxes inside a hot spot, the rest
    * world boxes of log-uniform size (0.1°–30°); a 6 h – 8 day window; one
    * language. Box edges sit on +0.0005° half steps, like region edges. */
  def gen(seed: Long, id: Int): Query = {
    val r = new java.util.SplittableRandom(seed * 1000003L + id)
    def edge(d: Double) = (math.floor(d * 1000) + 0.5) / 1000
    val (x0, y0, size) =
      if (r.nextDouble() < 0.3) {
        val (cx, cy) = Inputs.Cities(r.nextInt(Inputs.Cities.size))
        val s = 0.05 + r.nextDouble() * 0.95
        (cx + r.nextDouble() * (2.0 - s), cy + r.nextDouble() * (2.0 - s), s)
      } else {
        val s = 0.1 * math.pow(300.0, r.nextDouble())
        (-180.0 + r.nextDouble() * (360.0 - s), -85.0 + r.nextDouble() * (170.0 - s), s)
      }
    val t0 = Inputs.Epoch0 + r.nextLong(Inputs.TimeSpanSec - 8 * 86400L)
    val t1 = t0 + 21600L + r.nextLong(7 * 86400L + 64800L)
    val q = Query(id, edge(x0), edge(y0), edge(x0 + size), edge(y0 + size), t0, t1,
      Inputs.Langs(r.nextInt(Inputs.Langs.size)), r.nextBoolean())
    // the oracle uses the coordinates exactly as the ECQL text spells them
    q.copy(x0 = "%.4f".format(q.x0).toDouble, y0 = "%.4f".format(q.y0).toDouble,
      x1 = "%.4f".format(q.x1).toDouble, y1 = "%.4f".format(q.y1).toDouble)
  }
}

/**
 * Storage layer for writes and reads: a checkpointed cell-layout write of
 * the points (keys, waves, manifest) into a fresh directory, then a closed
 * loop of seeded ECQL queries against the written table.
 */
object LayoutRw extends Part {
  /** Directory-bucket resolution sized for a sub-million-row table: 16
    * world buckets (`CellLayout` sizes buckets by data volume). */
  val BucketRes = 2
  val QueriesPerRep = 8
  private val answers = mutable.ArrayBuffer.empty[(Query, Array[Long])]
  private var nextQuery = 0

  private def ptsPath(ctx: Ctx) = s"${ctx.dataDir}/points"
  private def rows(ctx: Ctx) = ctx.rows(100000L)
  def rowsPerRep(ctx: Ctx): Long = rows(ctx)
  def tables(ctx: Ctx): Seq[(String, Seq[String])] =
    Seq(ptsPath(ctx) -> Seq("doc_id", "lon", "lat", "sec", "lang"))

  def setup(ctx: Ctx): Unit = {
    Inputs.points(ctx.spark, ctx.seed, rows(ctx), 4 * ctx.nproc).write.mode("overwrite").parquet(ptsPath(ctx))
    ctx.inputs("points") = rows(ctx)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount).foreach(Files.delete)
    finally all.close()
  }

  def rep(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = Paths.get(ctx.dataDir, "layout")
    deleteTree(root)
    val dir = root.resolve(s"r${ctx.rep}").toString
    val src = spark.read.parquet(ptsPath(ctx))
    val n = rows(ctx)

    val written = ctx.op("layout.write") {
      val keyed = CellLayout.withCellKeys(src, col("lon"), col("lat"), col("doc_id"), bucketRes = BucketRes)
      CellLayout.write(keyed, dir, ptsPath(ctx))
    }
    written.foreach { case (manifest, secs) =>
      val metas = manifest.values.toSeq
      val stored = metas.map(_.rows).sum
      val bytes = metas.map(_.bytes).sum
      ctx.check("layout.manifest_rows", stored == n, s"manifest holds $stored rows, input $n")
      ctx.sample("write_rows_per_s", n / secs)
      ctx.sample("stored_bytes_per_row", bytes.toDouble / stored)
      if (ctx.traced) {
        ctx.lastSpanSpark("layout.write").foreach { s =>
          ctx.layer("layout.write_jobs", s.writeJobs.toDouble)
          ctx.layer("layout.write_cmd_s", s.writeCmdS)
          ctx.layer("layout.aux_s", secs - s.writeCmdS)
        }
        val waves = metas.groupBy(_.wave).values.map(_.head.wallMs / 1e3).toSeq
        ctx.layer("layout.wave_s_p50", Stats.median(waves))
        ctx.layer("layout.wave_s_max", waves.max)
        ctx.layer("layout.bytes", bytes.toDouble)
        ctx.layer("layout.files", metas.map(_.files).sum.toDouble)
        ctx.layer("layout.buckets", metas.size.toDouble)
        ctx.layer("layout.rows", stored.toDouble)
        keyLayers(ctx, src, n)
      }
    }
    if (written.isEmpty) return

    val filesTotal = CellLayout.readManifest(dir).values.map(_.files).sum
    (0 until QueriesPerRep).foreach { _ =>
      val q = Query.gen(ctx.seed, nextQuery)
      nextQuery += 1
      ctx.op("layout.query") {
        val (df, readMs) = ctx.timeMs("layout.read") {
          CellLayout.read(spark, dir, queryBox = Some((q.x0, q.y0, q.x1, q.y1)))
        }
        val sel = Ecql.where(df, q.ecql).select("doc_id")
        val optMs = if (ctx.traced) ctx.timeMs("plans.optimize")(sel.queryExecution.optimizedPlan)._2 else 0.0
        val (ids, execMs) = ctx.timeMs("query.exec")(sel.collect().map(_.getLong(0)))
        (ids, df, sel, readMs, optMs, execMs)
      }.foreach { case ((ids, df, sel, readMs, optMs, execMs), secs) =>
        ctx.sample("query_ms", secs * 1e3)
        answers += ((q, ids.sorted))
        if (ctx.traced) {
          ctx.layer("layout.read_plan_ms", readMs)
          ctx.layer("plans.optimize_ms", optMs)
          ctx.layer("query.exec_ms", execMs)
          queryLayers(ctx, q, dir, df, sel, ids.length, filesTotal)
        }
      }
    }
  }

  /** Key projection cost: an aggregate over the keyed frame minus the same
    * aggregate over the raw coordinates. */
  private def keyLayers(ctx: Ctx, src: DataFrame, n: Long): Unit = {
    val base = ctx.timeMs("layout.keys.base")(src.agg(max(col("lon") + col("lat"))).collect())._2
    val keyed = CellLayout.withCellKeys(src, col("lon"), col("lat"), col("doc_id"), bucketRes = BucketRes)
    val ms = ctx.timeMs("layout.keys")(keyed.agg(max("cell"), max("bucket"), max("salt")).collect())._2
    ctx.layer("layout.keys_ns_per_row", math.max(0.0, ms - base) * 1e6 / n)
  }

  /** Driver-side pieces of one query timed directly, and its scan metrics. */
  private def queryLayers(ctx: Ctx, q: Query, dir: String, read: DataFrame, sel: DataFrame,
                          results: Int, filesTotal: Int): Unit = {
    val t0 = System.nanoTime()
    Ecql.toColumn(q.ecql)
    ctx.layer("cql.parse_us", (System.nanoTime() - t0) / 1e3)
    val (manifest, manifestMs) = ctx.timeMs("layout.manifest")(CellLayout.readManifest(dir))
    ctx.layer("layout.manifest_read_ms", manifestMs)
    // the read path's driver-side cover (coarse bucket cover + fine key
    // ranges), computed as CellLayout.read computes it. The read's cover
    // budget and levels are not public, so this is a copy: the check below
    // fails the run when it no longer matches what the read planned.
    val bucketRes = manifest.keysIterator.map(Z2.resOf).nextOption().getOrElse(BucketRes)
    val t1 = System.nanoTime()
    val buckets = Z2.coverBBox(q.x0, q.y0, q.x1, q.y1, bucketRes)
    val rangeRes = Z2.chooseRes(q.x0, q.y0, q.x1, q.y1, budget = 64,
      levels = Array(bucketRes, bucketRes + 2, bucketRes + 4))
    val ranges = Z2.coverRanges(q.x0, q.y0, q.x1, q.y1, rangeRes, CellLayout.SortRes)
    ctx.layer("index.query_cover_us", (System.nanoTime() - t1) / 1e3)
    val copied = (buckets.map(_.toInt.toLong).toSeq.sorted, ranges.toSeq.flatMap(r => Seq(r._1, r._2)).sorted)
    val planned = plannedCover(read)
    ctx.check("index.query_cover_matches_read", copied == planned,
      s"query ${q.id}: copy covers ${copied._1.size} buckets / ${copied._2.size / 2} ranges, " +
        s"read planned ${planned._1.size} / ${planned._2.size / 2}")

    val scans = PlanWalk.scans(PlanWalk.nodes(sel.queryExecution.executedPlan))
    val filesRead = PlanWalk.sum(scans, "numFiles")
    val rowsRead = PlanWalk.sum(scans, "numOutputRows")
    ctx.layer("scan.files_read", filesRead.toDouble)
    ctx.layer("scan.files_total", filesTotal.toDouble)
    ctx.layer("scan.file_prune_ratio", if (filesTotal > 0) 1.0 - filesRead.toDouble / filesTotal else 0.0)
    ctx.layer("scan.bytes_read", PlanWalk.sum(scans, "filesSize").toDouble)
    ctx.layer("scan.rows_read", rowsRead.toDouble)
    ctx.layer("scan.rows_per_result", rowsRead.toDouble / math.max(1, results))
    ctx.layer("plans.pushed_filters", scans.map(s =>
      PlanWalk.listSize(s.metadata.getOrElse("PushedFilters", "[]")) +
        PlanWalk.listSize(s.metadata.getOrElse("PartitionFilters", "[]"))).sum.toDouble)
  }

  /** Literals of the read's bucket and key-range filters, from its
    * analyzed plan: (sorted bucket ids, sorted range bounds). */
  private def plannedCover(read: DataFrame): (Seq[Long], Seq[Long]) = {
    val conds = read.queryExecution.analyzed.collect { case f: Filter => f.condition }
    def lits(on: String) = conds.filter(_.references.exists(_.name == on))
      .flatMap(_.collect { case Literal(v: Number, _) => v.longValue }).sorted
    (lits("bucket"), lits("cell"))
  }

  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.check("layout.queries_answered", answers.nonEmpty, "no query completed")
    if (answers.isEmpty) return
    // every answer against a plain lon/lat/time/attribute filter of the source
    val qs = answers.map(_._1).map(q => (q.id, q.x0, q.y0, q.x1, q.y1, q.t0 - Inputs.Epoch0,
      q.t1 - Inputs.Epoch0, q.lang)).toSeq.toDF("qid", "x0", "y0", "x1", "y1", "s0", "s1", "ql")
    val pts = spark.read.parquet(ptsPath(ctx)).select("doc_id", "lon", "lat", "sec", "lang")
    val expected = pts.join(broadcast(qs),
        $"lon" > $"x0" && $"lon" < $"x1" && $"lat" > $"y0" && $"lat" < $"y1" &&
          $"sec" > $"s0" && $"sec" < $"s1" && $"lang" === $"ql")
      .groupBy("qid").agg(sort_array(collect_list("doc_id")).as("ids"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
    val wrong = answers.filterNot { case (q, ids) =>
      java.util.Arrays.equals(ids, expected.getOrElse(q.id, Array.emptyLongArray))
    }
    ctx.check("layout.query_ids_match_filter", wrong.isEmpty,
      s"${wrong.size} of ${answers.size} queries differ, first: ${wrong.headOption.map(_._1.ecql)}")
    ctx.check("layout.queries_return_rows", answers.exists(_._2.nonEmpty), "every query returned nothing")
  }
}
