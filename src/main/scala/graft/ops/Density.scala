package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Density / tile aggregation — the reference's DensityIterator +
 * SurfaceAggregatingIterator (geomesa-core/.../iterators/DensityIterator
 * .scala:45-228, GridSnap.scala:29-107) re-expressed as a partial/final
 * hash aggregation: snap every row to a WxH grid cell over a bbox, count
 * (or max) per cell. Spark's map-side combine IS the reference's
 * per-tablet partial aggregation.
 */
object Density {

  /** Snap expressions use only IEEE-exact ops (+, /, *, floor) so the
   *  DuckDB oracle reproduces cell assignment bit-for-bit. */
  def snapX(lon: Column, xmin: Double, xmax: Double, w: Int): Column =
    floor((lon - xmin) / (xmax - xmin) * w).cast("long")
  def snapY(lat: Column, ymin: Double, ymax: Double, h: Int): Column =
    floor((lat - ymin) / (ymax - ymin) * h).cast("long")

  /** 2-D heat grid: count per (cellX, cellY) for rows inside the bbox
   *  (reference A1). */
  def grid(df: DataFrame, lon: Column, lat: Column,
           xmin: Double, ymin: Double, xmax: Double, ymax: Double,
           w: Int, h: Int): DataFrame =
    df.filter(lon >= xmin && lon < xmax && lat >= ymin && lat < ymax)
      .groupBy(
        snapX(lon, xmin, xmax, w).as("cell_x"),
        snapY(lat, ymin, ymax, h).as("cell_y"))
      .agg(count(lit(1)).as("n"))

  /** Density grid over ARBITRARY geometries (points snap, lines rasterize
   *  along their segments, polygons mark cells whose center they contain) —
   *  the reference's full DensityIterator semantics
   *  (DensityIterator.scala:112-127): count of covering geometries per cell.
   *  One generator expression per row, then the same partial/final hash agg
   *  as the point path — no join, no shuffle beyond the aggregation. */
  def gridGeom(df: DataFrame, geom: Column,
               xmin: Double, ymin: Double, xmax: Double, ymax: Double,
               w: Int, h: Int): DataFrame =
    df.select(explode(graft.functions.st.gridCells(geom,
        lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(w), lit(h))).as("__gc"))
      .groupBy(
        pmod(col("__gc"), lit(w.toLong)).as("cell_x"),
        floor(col("__gc") / w).cast("long").as("cell_y"))
      .agg(count(lit(1)).as("n"))

  /** Surface tile over arbitrary geometries: max of `value` per covered
   *  cell (non-point A8/J5 path). */
  def surfaceGeom(df: DataFrame, geom: Column, value: Column,
                  xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                  w: Int, h: Int): DataFrame =
    df.select(value.as("__v"), explode(graft.functions.st.gridCells(geom,
        lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(w), lit(h))).as("__gc"))
      .groupBy(
        pmod(col("__gc"), lit(w.toLong)).as("cell_x"),
        floor(col("__gc") / w).cast("long").as("cell_y"))
      .agg(max(col("__v")).as("v"))

  /** Temporal density (reference A2, TemporalDensityIterator/TimeSnap):
   *  count per time bucket. */
  def temporal(df: DataFrame, ts: Column, bucket: String): DataFrame =
    df.groupBy(date_trunc(bucket, ts).as("bucket")).agg(count(lit(1)).as("n"))

  /** Surface tile (reference A8, SurfaceAggregatingIterator): max of a
   *  value per grid cell — the WMS-tile aggregation. */
  def surface(df: DataFrame, lon: Column, lat: Column, value: Column,
              xmin: Double, ymin: Double, xmax: Double, ymax: Double,
              w: Int, h: Int): DataFrame =
    df.filter(lon >= xmin && lon < xmax && lat >= ymin && lat < ymax)
      .groupBy(
        snapX(lon, xmin, xmax, w).as("cell_x"),
        snapY(lat, ymin, ymax, h).as("cell_y"))
      .agg(max(value).as("v"))

  /** Full WMS-style tile render (reference A8 + CoverageReader.scala:100-160):
   *  aggregate max-per-pixel inside W×H tiles, then pack each tile into a
   *  row-major byte buffer Dataset[(tile_x, tile_y, bytes)]. Values are
   *  min-max normalized to 0..255 per tile (the reference normalizes into
   *  the byte range the same way). Null values are skipped, as `max` skips
   *  them: a pixel or tile with no non-null value is not drawn. */
  def tiles(df: DataFrame, lon: Column, lat: Column, value: Column,
            tileDeg: Double, w: Int, h: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tx = floor((lon + 180.0) / tileDeg).cast("int")
    val ty = floor((lat + 90.0) / tileDeg).cast("int")
    val px = floor(((lon + 180.0) / tileDeg - floor((lon + 180.0) / tileDeg)) * w).cast("int")
    val py = floor(((lat + 90.0) / tileDeg - floor((lat + 90.0) / tileDeg)) * h).cast("int")
    val perPixel = df
      .filter(lon >= -180.0 && lon < 180.0 && lat >= -90.0 && lat < 90.0 && value.isNotNull)
      .groupBy(tx.as("tile_x"), ty.as("tile_y"), px.as("px"), py.as("py"))
      .agg(max(value).as("v"))
    val packed = perPixel
      .groupBy("tile_x", "tile_y")
      .agg(collect_list(struct(col("px"), col("py"), col("v"))).as("pixels"))
    val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("tile_x", IntegerType), StructField("tile_y", IntegerType),
      StructField("tile", BinaryType))))
    packed.map({ r =>
      val buf = new Array[Byte](w * h)
      val pixels = r.getSeq[Row](2)
      if (pixels.nonEmpty) {
        val vs = pixels.map(_.getDouble(2))
        val lo = vs.min; val hi = vs.max
        val span = if (hi > lo) hi - lo else 1.0
        pixels.foreach { p =>
          val idx = p.getInt(1) * w + p.getInt(0)
          buf(idx) = (1 + ((p.getDouble(2) - lo) / span * 254.0)).toInt.toByte
        }
      }
      Row(r.getInt(0), r.getInt(1), buf)
    })(enc)
  }
}
