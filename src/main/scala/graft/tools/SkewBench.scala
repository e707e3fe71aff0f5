package graft.tools

import java.nio.file.{Files, Paths}

import graft.ops.{CellFamily, SpatialJoin}
import graft.pages.WebPages
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim

/**
 * Hot-cell salting evidence under a REAL shuffle join: broadcast disabled
 * (autoBroadcastJoinThreshold=-1) and AQE skew-splitting off, so reducer
 * balance is decided solely by the join keys. The synthetic points put 30%
 * of rows in 3 city cells — unsalted, the reducers owning those cells
 * straggle; salted, the hot keys split `salts` ways.
 * Writes BENCH/SKEW.md. Run: `sbt "runMain graft.tools.SkewBench [rows]"`
 * (the default 4M rows take ~5 min on 4 cores).
 */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(4000000L)
    val repeats = 3
    val spark = SparkSession.builder()
      .master("local[*]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // 4 shuffle partitions per core, as many as the generated pages have
    val cores = spark.sparkContext.defaultParallelism
    val partitions = 4 * cores
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    try {
      val pages = WebPages.syntheticPages(spark, rows, partitions)
      // country-scale polygons containing the city hot spots: their covers
      // sit at COARSE ladder levels, so the coarse city cells carry both
      // the probe mass (30% of rows) and many build rows — the key-skew
      // case adaptive fine covers cannot dissolve
      val regions = spark.range(500).selectExpr(
          "id AS region_id",
          "CASE (id % 3) WHEN 0 THEN -75e0 WHEN 1 THEN 135e-2 ELSE 1387e-1 END - 10e0 + ((id * 48271 + 11) % 8000) / 1e3 AS xmin",
          "CASE (id % 3) WHEN 0 THEN 397e-1 WHEN 1 THEN 4785e-2 ELSE 347e-1 END - 10e0 + ((id * 65539 + 3) % 8000) / 1e3 AS ymin")
        .selectExpr("region_id", "xmin", "ymin", "xmin + 20e0 AS xmax", "ymin + 20e0 AS ymax")
        .withColumn("region_geom", graft.functions.st.makeBox(
          col("xmin"), col("ymin"), col("xmax"), col("ymax")))
        .select("region_id", "region_geom")
      // hot cells from table statistics (untimed — production keeps the
      // cell histogram in the layout manifest, not in the query path)
      val probe = Seq(col("lon"), col("lat")).map(ColumnShim.expression)
      val ladder = pages.select(explode(ColumnShim.column(CellFamily.Z2().ladder(probe))).as("__qcell"))
      val hot = SpatialJoin.hotCells(ladder, col("__qcell"), 8)
      println(s"HOT_CELLS=${hot.length}")
      def run(salts: Int, aqeSkew: Boolean): Double = {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqeSkew.toString)
        val secs = (1 to repeats).map { _ =>
          val t0 = System.nanoTime()
          SpatialJoin.polygonsWithPoints(
            regions, col("region_geom"), pages.select("doc_id", "geom"), col("geom"),
            df => graft.functions.st.contains(df("region_geom"), df("geom")),
            broadcastPolys = Some(false), salts = salts,
            knownHotCells = if (salts > 1) Some(hot) else None).count()
          (System.nanoTime() - t0) / 1e9
        }
        secs.min
      }
      val naive = run(1, aqeSkew = false)
      val aqe = run(1, aqeSkew = true)
      val salted = run(8, aqeSkew = false)
      val both = run(8, aqeSkew = true)
      val verdict = if (salted < aqe) "salting is ahead" else "salting is NOT ahead"
      val lines =
        f"""# Skew evidence — shuffled spatial join over city-cluster skew
           |
           |$rows skewed points x 500 country-scale covers around the cities,
           |local[*] = $cores cores, $partitions shuffle partitions, broadcast
           |disabled, best of $repeats per variant.
           |
           || variant | sec | speedup vs naive |
           ||---|---|---|
           || no mitigation (AQE skew off, salts=1) | $naive%.3f | 1.00x |
           || AQE skew-split (production default)   | $aqe%.3f | ${naive / aqe}%.2fx |
           || hot-cell salting (AQE skew off)       | $salted%.3f | ${naive / salted}%.2fx |
           || salting + AQE skew-split              | $both%.3f | ${naive / both}%.2fx |
           |
           |Salting alone vs AQE skew-split alone: ${aqe / salted}%.2fx ($verdict).
           |
           |The skew is per-key join fan-out, not shuffle size: the city cells
           |hold 30%% of the probe rows, and each matches the hundreds of
           |country covers around it. AQE splits partitions by shuffle bytes;
           |cell-histogram salting splits exactly the hot keys. Balancing those
           |keys saves at most the hot reducers' excess over an even share of
           |the cores, so the gain grows with the core count: with few cores,
           |the few hot keys already keep most of them busy.
           |""".stripMargin
      Files.createDirectories(Paths.get("BENCH"))
      Files.writeString(Paths.get("BENCH/SKEW.md"), lines)
      println(lines)
    } finally spark.stop()
  }
}
