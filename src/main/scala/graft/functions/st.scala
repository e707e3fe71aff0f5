package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.ColumnShim

/**
 * Column-level spatial API (Dataset side) + SQL registration. Mirrors the
 * GeoMesa SparkSQL UDF surface (st_contains / st_intersects / st_dwithin …)
 * so spatial predicates work identically from `spark.sql(...)` and the
 * typed Dataset API.
 */
object st {
  private def col(e: Expression): Column = ColumnShim.column(e)
  private def ex(c: Column): Expression = ColumnShim.expression(c)
  private def call(name: String, args: Column*): Column = col(StaticCall(name, args.map(ex)))

  def geomFromWKT(wkt: Column): Column = col(StGeomFromWKT(ex(wkt)))
  def asText(g: Column): Column = col(StAsText(ex(g)))
  def asGeoJson(g: Column): Column = col(StAsGeoJson(ex(g)))
  def asGml(g: Column): Column = col(StAsGml(ex(g)))
  def point(lon: Column, lat: Column): Column = col(StPoint(ex(lon), ex(lat)))
  def makeBox(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    col(StMakeBox(Seq(ex(xmin), ex(ymin), ex(xmax), ex(ymax))))

  def contains(a: Column, b: Column): Column = col(StContains(ex(a), ex(b)))
  def intersects(a: Column, b: Column): Column = col(StIntersects(ex(a), ex(b)))
  def within(a: Column, b: Column): Column = col(StWithin(ex(a), ex(b)))
  def covers(a: Column, b: Column): Column = col(StCovers(ex(a), ex(b)))
  def overlaps(a: Column, b: Column): Column = col(StOverlaps(ex(a), ex(b)))
  def crosses(a: Column, b: Column): Column = col(StCrosses(ex(a), ex(b)))
  def touches(a: Column, b: Column): Column = col(StTouches(ex(a), ex(b)))
  def disjoint(a: Column, b: Column): Column = col(StDisjoint(ex(a), ex(b)))
  def equalsGeom(a: Column, b: Column): Column = col(StEquals(ex(a), ex(b)))
  def dwithin(a: Column, b: Column, meters: Column): Column = col(StDWithin(ex(a), ex(b), ex(meters)))
  def dwithinDeg(a: Column, b: Column, deg: Column): Column = col(StDWithinDeg(ex(a), ex(b), ex(deg)))
  def relate(a: Column, b: Column, pattern: Column): Column = col(StRelate(ex(a), ex(b), ex(pattern)))

  def distance(a: Column, b: Column): Column = col(StDistance(ex(a), ex(b)))
  def distanceSphere(a: Column, b: Column): Column = col(StDistanceSphere(ex(a), ex(b)))
  def distanceSpheroid(a: Column, b: Column): Column = col(StDistanceSpheroid(ex(a), ex(b)))
  def vincentyMeters(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    call("vincenty_meters", lon1, lat1, lon2, lat2)
  def area(g: Column): Column = col(StArea(ex(g)))
  def lengthGeom(g: Column): Column = col(StLengthGeom(ex(g)))

  def x(g: Column): Column = col(StX(ex(g)))
  def y(g: Column): Column = col(StY(ex(g)))
  def xmin(g: Column): Column = col(StXMin(ex(g)))
  def ymin(g: Column): Column = col(StYMin(ex(g)))
  def xmax(g: Column): Column = col(StXMax(ex(g)))
  def ymax(g: Column): Column = col(StYMax(ex(g)))
  def centroid(g: Column): Column = col(StCentroid(ex(g)))
  def envelope(g: Column): Column = col(StEnvelope(ex(g)))
  def buffer(g: Column, d: Column): Column = col(StBuffer(ex(g), ex(d)))
  def simplify(g: Column, tol: Column): Column = col(StSimplify(ex(g), ex(tol)))
  def unionGeom(a: Column, b: Column): Column = col(StUnion(ex(a), ex(b)))
  def geometryType(g: Column): Column = col(StGeometryType(ex(g)))

  def cellOf(g: Column, res: Column): Column = col(CellOf(ex(g), ex(res)))
  def z2Encode(lon: Column, lat: Column, res: Column): Column = col(Z2Encode(ex(lon), ex(lat), ex(res)))
  def cellCover(g: Column, res: Column): Column = col(CellCover(ex(g), ex(res)))
  def cellCoverBudget(g: Column, budget: Column, levels: Column): Column =
    col(CellCoverBudget(ex(g), ex(budget), ex(levels)))
  def cellCoverLevel(g: Column, budget: Column, levels: Column): Column =
    col(CellCoverLevel(ex(g), ex(budget), ex(levels)))
  def cellParent(c: Column, res: Column): Column = col(CellParent(ex(c), ex(res)))
  def cellBox(c: Column): Column = col(CellBox(ex(c)))
  def cellNeighbors(c: Column): Column = col(CellNeighbors(ex(c)))
  def gridCells(g: Column, xmin: Column, ymin: Column, xmax: Column, ymax: Column,
                w: Column, h: Column): Column =
    call("grid_cells", g, xmin, ymin, xmax, ymax, w, h)
  def z3Encode(lon: Column, lat: Column, epochSec: Column, periodSec: Column, res: Column): Column =
    call("z3_encode", lon, lat, epochSec, periodSec, res)
  def timeBin(epochSec: Column, periodSec: Column): Column = col(TimeBin(ex(epochSec), ex(periodSec)))
  def xz2(g: Column, maxRes: Column): Column = col(Xz2Encode(ex(g), ex(maxRes)))
  def xz2QueryCover(g: Column, maxRes: Column): Column = col(Xz2QueryCover(ex(g), ex(maxRes)))
  def s2Encode(lon: Column, lat: Column, level: Column): Column =
    col(S2Encode(ex(lon), ex(lat), ex(level)))
  def s2Parent(cell: Column, level: Column): Column = col(S2Parent(ex(cell), ex(level)))
  def s2Neighbors(cell: Column): Column = col(S2Neighbors(ex(cell)))
  def s2CoverBBox(xmin: Column, ymin: Column, xmax: Column, ymax: Column, level: Column): Column =
    call("s2_cover_bbox", xmin, ymin, xmax, ymax, level)
  def s2CoverBudget(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
                    budget: Column, levels: Column): Column =
    call("s2_cover_budget", xmin, ymin, xmax, ymax, budget, levels)
  def s2CoverLevel(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
                   budget: Column, levels: Column): Column =
    call("s2_cover_level", xmin, ymin, xmax, ymax, budget, levels)
  def hexEncode(lon: Column, lat: Column, res: Column): Column =
    col(HexEncode(ex(lon), ex(lat), ex(res)))
  def hexParent(cell: Column, res: Column): Column = col(HexParent(ex(cell), ex(res)))
  def hexNeighbors(cell: Column): Column = col(HexNeighbors(ex(cell)))
  def hexCoverBBox(xmin: Column, ymin: Column, xmax: Column, ymax: Column, res: Column): Column =
    call("hex_cover_bbox", xmin, ymin, xmax, ymax, res)
  def hexCoverBudget(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
                     budget: Column, levels: Column): Column =
    call("hex_cover_budget", xmin, ymin, xmax, ymax, budget, levels)
  def hexCoverLevel(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
                    budget: Column, levels: Column): Column =
    call("hex_cover_level", xmin, ymin, xmax, ymax, budget, levels)
  def geohashEncode(lon: Column, lat: Column, chars: Column): Column =
    col(GeohashEncode(ex(lon), ex(lat), ex(chars)))
  def geohashBox(h: Column): Column = col(GeohashBox(ex(h)))

  /** Register every st_* / cell_* function for SQL use. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def f1(name: String, b: Expression => Expression): Unit =
      reg.createOrReplaceTempFunction(name, es => b(es.head), "built-in")
    def f2(name: String, b: (Expression, Expression) => Expression): Unit =
      reg.createOrReplaceTempFunction(name, es => b(es(0), es(1)), "built-in")
    def f3(name: String, b: (Expression, Expression, Expression) => Expression): Unit =
      reg.createOrReplaceTempFunction(name, es => b(es(0), es(1), es(2)), "built-in")
    def fN(name: String): Unit =
      reg.createOrReplaceTempFunction(name, es => StaticCall(name, es), "built-in")

    f1("st_geomfromwkt", StGeomFromWKT)
    f1("st_geomfromtext", StGeomFromWKT)
    f1("st_astext", StAsText)
    f1("st_asgeojson", StAsGeoJson)
    f1("st_asgml", StAsGml)
    f2("st_point", StPoint)
    reg.createOrReplaceTempFunction("st_makebox", es => StMakeBox(es), "built-in")
    f2("st_contains", StContains)
    f2("st_intersects", StIntersects)
    f2("st_within", StWithin)
    f2("st_covers", StCovers)
    f2("st_overlaps", StOverlaps)
    f2("st_crosses", StCrosses)
    f2("st_touches", StTouches)
    f2("st_disjoint", StDisjoint)
    f2("st_equals", StEquals)
    f3("st_dwithin", StDWithin)
    f3("st_dwithin_deg", StDWithinDeg)
    f3("st_relate", StRelate)
    f2("st_distance", StDistance)
    f2("st_distance_sphere", StDistanceSphere)
    f2("st_distance_spheroid", StDistanceSpheroid)
    fN("vincenty_meters")
    f1("st_area", StArea)
    f1("st_length", StLengthGeom)
    f1("st_x", StX)
    f1("st_y", StY)
    f1("st_xmin", StXMin)
    f1("st_ymin", StYMin)
    f1("st_xmax", StXMax)
    f1("st_ymax", StYMax)
    f1("st_centroid", StCentroid)
    f1("st_envelope", StEnvelope)
    f2("st_buffer", StBuffer)
    f2("st_simplify", StSimplify)
    f2("st_union", StUnion)
    f1("st_geometrytype", StGeometryType)
    f2("cell_of", CellOf)
    f3("z2_encode", Z2Encode)
    f2("cell_cover", CellCover)
    f3("cell_cover_budget", CellCoverBudget)
    f2("cell_parent", CellParent)
    f1("cell_box", CellBox)
    f1("cell_neighbors", CellNeighbors)
    fN("grid_cells")
    fN("z3_encode")
    f2("time_bin", TimeBin)
    f2("xz2_encode", Xz2Encode)
    f2("xz2_query_cover", Xz2QueryCover)
    f3("s2_encode", S2Encode)
    f2("s2_parent", S2Parent)
    f1("s2_neighbors", S2Neighbors)
    fN("s2_cover_bbox")
    fN("s2_cover_budget")
    f3("hex_encode", HexEncode)
    f2("hex_parent", HexParent)
    f1("hex_neighbors", HexNeighbors)
    fN("hex_cover_bbox")
    fN("hex_cover_budget")
    f3("geohash_encode", GeohashEncode)
    f1("geohash_box", GeohashBox)
  }
}
