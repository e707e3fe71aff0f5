package graft.perfbench

import graft.functions.st
import graft.pages.WebPages
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded input generators. Every value is a pure function of (row id,
 * seed), so one seed always gives the same tables, and another seed gives
 * other tables with the same shape.
 *
 * Points follow the skew profile of `WebPages.syntheticPages`: 30% of rows
 * in three 2°x2° city hot spots (NYC, Paris, Tokyo), the rest uniform over
 * [-180,180)x[-85,85). Coordinates sit on a 1/1000° grid and every box edge
 * on a +0.0005° half step, so no point lies on a box boundary and a plain
 * `xmin < lon < xmax` range test is an exact oracle for containment.
 */
object Inputs {
  /** Hot-spot south-west corners (lon, lat), as in WebPages. */
  val Cities: Seq[(Double, Double)] = Seq((-75.0, 39.7), (1.35, 47.85), (138.7, 34.7))
  val Langs: Seq[String] = Seq("en", "de", "fr", "es")
  /** Epoch second of 2011-06-01T00:00:00Z; point times span 30 days after it. */
  val Epoch0 = 1306886400L
  val TimeSpanSec = 2592000L

  private def h(seed: Long, salt: Int, id: Column): Column = xxhash64(id, lit(seed), lit(salt))
  private def u(seed: Long, salt: Int, id: Column, n: Long): Column = pmod(h(seed, salt, id), lit(n))

  private def cityCase(g: Column, pick: ((Double, Double)) => Double, inSpot: Column, world: Column): Column =
    Cities.zipWithIndex.foldLeft(when(lit(false), lit(0.0))) { case (acc, (c, i)) =>
      acc.when(g === i, lit(pick(c)) + inSpot)
    }.otherwise(world)

  /** Page points: doc_id, lon, lat, sec, dtg, lang, geom (WKB point). */
  def points(spark: SparkSession, seed: Long, rows: Long, partitions: Int): DataFrame = {
    val id = col("doc_id")
    val g = u(seed, 1, id, 10)
    spark.range(0, rows, 1, partitions).select(col("id").as("doc_id"))
      .withColumn("lon", cityCase(g, _._1, u(seed, 2, id, 2000) / 1e3,
        u(seed, 2, id, 360000) / 1e3 - 180.0))
      .withColumn("lat", cityCase(g, _._2, u(seed, 3, id, 2000) / 1e3,
        u(seed, 3, id, 170000) / 1e3 - 85.0))
      .withColumn("sec", u(seed, 4, id, TimeSpanSec))
      .withColumn("dtg", timestamp_seconds(col("sec") + Epoch0))
      .withColumn("lang", element_at(typedLit(Langs), (u(seed, 5, id, Langs.size) + 1).cast("int")))
      .withColumn("geom", st.point(col("lon"), col("lat")))
  }

  /** The `regions` join side: the sf0.1 fixture's 1,000 region boxes
    * (`WebPages.regions` over supplier keys 1..1000, 0.5°–20.5° wide).
    * Fixed, not seeded: which boxes cover the hot spots decides much of
    * the join's work, so the seed varies only the points. */
  def regions(spark: SparkSession): DataFrame =
    spark.range(1, 1001, 1, 1).withColumnRenamed("id", "s_suppkey").selectExpr(
        "s_suppkey AS region_id",
        s"${WebPages.R_XMIN} AS xmin", s"${WebPages.R_YMIN} AS ymin",
        s"${WebPages.R_XMAX} AS xmax", s"${WebPages.R_YMAX} AS ymax")
      .withColumn("region_geom", st.makeBox(col("xmin"), col("ymin"), col("xmax"), col("ymax")))

  /**
   * The skewed join side: `country` 36°x36° boxes per city, each holding
   * its whole hot spot (every hot point matches all of its city's boxes:
   * the per-key fan-out), `hotSmall` 0.005°–0.05° boxes inside the hot
   * spots, and `worldSmall` boxes of the same size over the world, which
   * make the table big enough that the join cannot broadcast it.
   */
  def skewedRegions(spark: SparkSession, seed: Long, country: Int, hotSmall: Long,
                    worldSmall: Long): DataFrame = {
    val id = col("region_id")
    val nCountry = country.toLong * Cities.size
    val kind = when(id < nCountry, lit(0)).when(id < nCountry + hotSmall, lit(1)).otherwise(lit(2))
    val city = pmod(id, lit(Cities.size.toLong))
    def at(pick: ((Double, Double)) => Double): Column =
      cityCase(city, pick, lit(0.0), lit(0.0))
    val small = (u(seed, 23, id, 46) + 5) / 1e3
    spark.range(0, nCountry + hotSmall + worldSmall, 1, 4).select(col("id").as("region_id"))
      .withColumn("__k", kind)
      .withColumn("xmin",
        when(col("__k") === 0, at(_._1) - 17.0 + u(seed, 21, id, 15000) / 1e3 + 5e-4)
          .when(col("__k") === 1, at(_._1) + u(seed, 21, id, 1950) / 1e3 + 5e-4)
          .otherwise(u(seed, 21, id, 359000) / 1e3 - 180.0 + 5e-4))
      .withColumn("ymin",
        when(col("__k") === 0, at(_._2) - 17.0 + u(seed, 22, id, 15000) / 1e3 + 5e-4)
          .when(col("__k") === 1, at(_._2) + u(seed, 22, id, 1950) / 1e3 + 5e-4)
          .otherwise(u(seed, 22, id, 169000) / 1e3 - 85.0 + 5e-4))
      .withColumn("xmax", col("xmin") + when(col("__k") === 0, lit(36.0)).otherwise(small))
      .withColumn("ymax", col("ymin") + when(col("__k") === 0, lit(36.0)).otherwise(small))
      .withColumn("region_geom", st.makeBox(col("xmin"), col("ymin"), col("xmax"), col("ymax")))
      .drop("__k")
  }

  /**
   * Text corpus with the near-duplicate profile of `WebPages.syntheticDocs`:
   * `words` dictionary words per doc from a 500-word vocabulary; every
   * 17th doc repeats its predecessor's words with its own tail token
   * (word 3-shingle Jaccard 0.9, above the 0.6 near-dup bar).
   */
  def docs(spark: SparkSession, seed: Long, rows: Long, partitions: Int, words: Int = 20): DataFrame = {
    val dict = typedLit((0 until 500).map(i => f"word$i%03d"))
    spark.range(0, rows, 1, partitions)
      .selectExpr("id AS doc_id", "CASE WHEN id % 17 = 0 AND id > 0 THEN id - 1 ELSE id END AS base")
      .withColumn("text", concat_ws(" ",
        (0 until words).map(j => element_at(dict, (u(seed, 100 + j, col("base"), 500) + 1).cast("int"))) :+
          concat(lit("tail"), u(seed, 99, col("doc_id"), 1000).cast("string")): _*))
      .select("doc_id", "text")
  }

  /** Planted doc pairs (id - 1, id) for every 17th id. */
  def plantedDocPairs(rows: Long): Long = (rows - 1) / 17

  /**
   * Embedding vectors (vec_id, embedding: array<float>) with planted
   * near-duplicates: every id with id % 10 == 1 is a small perturbation of
   * vector id - 1 (cosine ≈ 0.999), all others are independent.
   */
  def vectors(spark: SparkSession, seed: Long, rows: Long, partitions: Int, dim: Int = 32): DataFrame = {
    spark.range(0, rows, 1, partitions)
      .selectExpr("id AS vec_id", "CASE WHEN id % 10 = 1 THEN id - 1 ELSE id END AS base")
      .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)), j =>
        (pmod(xxhash64(col("base"), j, lit(seed)), lit(1000L)) / 500.0 - 1.0 +
          when(col("vec_id") =!= col("base"),
            pmod(xxhash64(col("vec_id"), j, lit(seed + 1)), lit(100L)) / 100.0 * 0.02)
            .otherwise(0.0)).cast("float")))
      .select("vec_id", "embedding")
  }

  /** Planted vector pairs (id - 1, id) for every id % 10 == 1. */
  def plantedVecPairs(rows: Long): Long = (rows + 8) / 10

  /** Deterministic sample predicate over an id column (~1/`every` of rows). */
  def sampled(seed: Long, id: Column, every: Long): Column = u(seed, 77, id, every) === 0
}
