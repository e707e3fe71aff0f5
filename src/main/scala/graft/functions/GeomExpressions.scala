package graft.functions

import graft.index.Z2
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * ST_* spatial expressions over WKB BinaryType columns. All are codegen'd:
 * doGenCode emits a single static call into [[GeomRT]], so spatial
 * predicates stay inside whole-stage codegen (SURVEY.md §4.3 — the
 * reference's hand-rolled dispatch-table "codegen" maps to real codegen
 * here). Capability parity: reference CQL predicate whitelist
 * geomesa-core/.../filter/package.scala:248-259.
 */
object RT { val C = "graft.functions.GeomRT" }

/** geom × geom → boolean, first argument prepared+cached. */
abstract class GeomPredicate(fn: String) extends BinaryExpression with Serializable {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(l: Any, r: Any): Any =
    evalBytes(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Boolean
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${RT.C}.$fn($a, $b)")
}

/** st_contains(g, p). For p = st_point(x, y), generated code passes x and y
 *  to [[GeomRT.containsXY]] as doubles (no point WKB per row; null if g, x
 *  or y is null); interpreted eval reaches the same kernel via the WKB. */
case class StContains(left: Expression, right: Expression) extends GeomPredicate("contains") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Boolean = GeomRT.contains(a, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = right match {
    case StPoint(x, y) =>
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val evs = Seq(left, x, y).map(_.genCode(ctx))
      ev.copy(code =
        code"""
          ${evs.map(_.code).reduce(_ + _)}
          boolean ${ev.isNull} = ${evs.map(e => s"${e.isNull}").mkString(" || ")};
          boolean ${ev.value} = !${ev.isNull} &&
            ${RT.C}.containsXY(${evs(0).value}, ${evs(1).value}, ${evs(2).value});""")
    case _ => super.doGenCode(ctx, ev)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StIntersects(left: Expression, right: Expression) extends GeomPredicate("intersects") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Boolean = GeomRT.intersects(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StWithin(left: Expression, right: Expression) extends GeomPredicate("within") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Boolean = GeomRT.within(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCovers(left: Expression, right: Expression) extends GeomPredicate("covers") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Boolean = GeomRT.covers(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StOverlaps(left: Expression, right: Expression) extends GeomPredicate("overlaps") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Boolean = GeomRT.overlaps(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StCrosses(left: Expression, right: Expression) extends GeomPredicate("crosses") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Boolean = GeomRT.crosses(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StTouches(left: Expression, right: Expression) extends GeomPredicate("touches") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Boolean = GeomRT.touches(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDisjoint(left: Expression, right: Expression) extends GeomPredicate("disjoint") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Boolean = GeomRT.disjoint(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StEquals(left: Expression, right: Expression) extends GeomPredicate("equalsGeom") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Boolean = GeomRT.equalsGeom(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** geom × geom × double → boolean. */
abstract class GeomDistPredicate(fn: String) extends TernaryExpression with Serializable {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, d: Any): Any =
    evalBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], d.asInstanceOf[Double])
  protected def evalBytes(a: Array[Byte], b: Array[Byte], d: Double): Boolean
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, d) => s"${RT.C}.$fn($a, $b, $d)")
}

/** Reference st_dwithin: distance in meters, rewritten to a local degree
 *  buffer (FilterHelper.scala:111-123). */
case class StDWithin(first: Expression, second: Expression, third: Expression)
    extends GeomDistPredicate("dwithinMeters") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte], d: Double): Boolean = GeomRT.dwithinMeters(a, b, d)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}
/** Planar degree-space within-distance (exact IEEE arithmetic — used by
 *  oracle-parity queries). */
case class StDWithinDeg(first: Expression, second: Expression, third: Expression)
    extends GeomDistPredicate("dwithinDeg") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte], d: Double): Boolean = GeomRT.dwithinDeg(a, b, d)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** DE-9IM pattern predicate (reference ECQL RELATE,
 *  geomesa-core/.../filter/FilterUtils; delegates to JTS relate). */
case class StRelate(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, p: Any): Any =
    GeomRT.relatePattern(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]], p.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, p) => s"${RT.C}.relatePattern($a, $b, $p.toString())")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** geom × geom → double. */
abstract class GeomBinaryDouble(fn: String) extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(l: Any, r: Any): Any =
    evalBytes(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Double
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${RT.C}.$fn($a, $b)")
}
case class StDistance(left: Expression, right: Expression) extends GeomBinaryDouble("distance") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Double = GeomRT.distance(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDistanceSphere(left: Expression, right: Expression) extends GeomBinaryDouble("distanceSphere") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Double = GeomRT.distanceSphere(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}
case class StDistanceSpheroid(left: Expression, right: Expression) extends GeomBinaryDouble("distanceSpheroid") {
  protected def evalBytes(a: Array[Byte], b: Array[Byte]): Double = GeomRT.distanceSpheroid(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** geom → double. */
abstract class GeomUnaryDouble(fn: String) extends UnaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any = evalBytes(v.asInstanceOf[Array[Byte]])
  protected def evalBytes(b: Array[Byte]): Double
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${RT.C}.$fn($c)")
}
case class StX(child: Expression) extends GeomUnaryDouble("x") {
  protected def evalBytes(b: Array[Byte]): Double = GeomRT.x(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StY(child: Expression) extends GeomUnaryDouble("y") {
  protected def evalBytes(b: Array[Byte]): Double = GeomRT.y(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StXMin(child: Expression) extends GeomUnaryDouble("xmin") {
  protected def evalBytes(b: Array[Byte]): Double = GeomRT.xmin(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StYMin(child: Expression) extends GeomUnaryDouble("ymin") {
  protected def evalBytes(b: Array[Byte]): Double = GeomRT.ymin(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StXMax(child: Expression) extends GeomUnaryDouble("xmax") {
  protected def evalBytes(b: Array[Byte]): Double = GeomRT.xmax(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StYMax(child: Expression) extends GeomUnaryDouble("ymax") {
  protected def evalBytes(b: Array[Byte]): Double = GeomRT.ymax(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StArea(child: Expression) extends GeomUnaryDouble("area") {
  protected def evalBytes(b: Array[Byte]): Double = GeomRT.area(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StLengthGeom(child: Expression) extends GeomUnaryDouble("length") {
  protected def evalBytes(b: Array[Byte]): Double = GeomRT.length(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** geom → geom. */
abstract class GeomUnaryGeom(fn: String) extends UnaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any = evalBytes(v.asInstanceOf[Array[Byte]])
  protected def evalBytes(b: Array[Byte]): Array[Byte]
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${RT.C}.$fn($c)")
}
case class StCentroid(child: Expression) extends GeomUnaryGeom("centroid") {
  protected def evalBytes(b: Array[Byte]): Array[Byte] = GeomRT.centroid(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
case class StEnvelope(child: Expression) extends GeomUnaryGeom("envelope") {
  protected def evalBytes(b: Array[Byte]): Array[Byte] = GeomRT.envelope(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StBuffer(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(g: Any, d: Any): Any =
    GeomRT.buffer(g.asInstanceOf[Array[Byte]], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, d) => s"${RT.C}.buffer($g, $d)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class StSimplify(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(g: Any, d: Any): Any =
    GeomRT.simplify(g.asInstanceOf[Array[Byte]], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, d) => s"${RT.C}.simplify($g, $d)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class StUnion(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GeomRT.union(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${RT.C}.union($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class StPoint(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    GeomRT.point(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${RT.C}.point($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

case class StMakeBox(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GeomRT.makeBox(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) => s"${RT.C}.makeBox($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(a: Expression, b: Expression, c: Expression, d: Expression): Expression =
    copy(a, b, c, d)
}
object StMakeBox {
  def apply(es: Seq[Expression]): StMakeBox = {
    require(es.size == 4, "st_makebox(xmin, ymin, xmax, ymax)")
    StMakeBox(es(0), es(1), es(2), es(3))
  }
}

case class StGeomFromWKT(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    GeomRT.fromWkt(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${RT.C}.fromWkt($c.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StAsText(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(GeomRT.asText(v.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.unsafe.types.UTF8String.fromString(${RT.C}.asText($c))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_asgeojson(geom) → GeoJSON geometry object for ANY geometry type. */
case class StAsGeoJson(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(GeomRT.geoJsonGeometry(v.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(${RT.C}.geoJsonGeometry($c))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** st_asgml(geom) → GML 2 geometry fragment for ANY geometry type
  * (reference GmlExport, FeatureExporter.scala:60-72). */
case class StAsGml(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(GeomRT.gmlGeometry(v.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(${RT.C}.gmlGeometry($c))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class StGeometryType(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(GeomRT.geometryType(v.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.unsafe.types.UTF8String.fromString(${RT.C}.geometryType($c))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// ---- cell index expressions ----

/** cell_of(geom, res) → packed Z2 cell id (Long). */
case class CellOf(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(g: Any, r: Any): Any =
    GeomRT.cellOf(g.asInstanceOf[Array[Byte]], r.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, r) => s"${RT.C}.cellOf($g, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** z2_encode(lon, lat, res) → packed Z2 cell id — pure bit math, fully
 *  codegen'd (reference bit-interleave: GeoHash.scala:149-160). */
case class Z2Encode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(lon: Any, lat: Any, r: Any): Any =
    Z2.encode(lon.asInstanceOf[Double], lat.asInstanceOf[Double], r.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, r) => s"graft.index.Z2.encode($lon, $lat, $r)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** cell_cover(geom, res) → array<long> of intersecting cells. */
case class CellCover(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(g: Any, r: Any): Any =
    new GenericArrayData(GeomRT.cover(g.asInstanceOf[Array[Byte]], r.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, r) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(${RT.C}.cover($g, $r))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** cell_cover_budget(geom, budget, levels) — adaptive-resolution cover. */
case class CellCoverBudget(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(g: Any, budget: Any, levels: Any): Any = {
    val lv = levels.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
    new GenericArrayData(GeomRT.coverBudget(g.asInstanceOf[Array[Byte]], budget.asInstanceOf[Int], lv))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, b, lv) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(${RT.C}.coverBudget($g, $b, $lv.toIntArray()))")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** cell_cover_level(geom, budget, levels) → the resolution
  * cell_cover_budget covers `geom` at (the same [[GeomRT.coverRes]] choice). */
case class CellCoverLevel(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(g: Any, budget: Any, levels: Any): Any =
    GeomRT.coverRes(g.asInstanceOf[Array[Byte]], budget.asInstanceOf[Int],
      levels.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, b, lv) => s"${RT.C}.coverRes($g, $b, $lv.toIntArray())")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** cell_parent(cell, res) → ancestor id at coarser resolution. */
case class CellParent(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any, r: Any): Any =
    Z2.parent(c.asInstanceOf[Long], r.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, r) => s"graft.index.Z2.parent($c, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** cell_box(cell) → WKB box of the cell's bounds. */
case class CellBox(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any): Any = GeomRT.cellBox(c.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${RT.C}.cellBox($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** cell_neighbors(cell) → array<long> of the ≤8 touching cells. */
case class CellNeighbors(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any): Any =
    new GenericArrayData(Z2.neighbors(c.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.index.Z2.neighbors($c))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// ---- S2-style cube-face Hilbert index expressions ----

/** s2_encode(lon, lat, level) → S2-style cell id (cube face + Hilbert). */
case class S2Encode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(lon: Any, lat: Any, l: Any): Any =
    graft.index.S2Lite.encode(lon.asInstanceOf[Double], lat.asInstanceOf[Double], l.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, l) => s"graft.index.S2Lite.encode($lon, $lat, $l)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}

/** s2_parent(cell, level) → ancestor cell (Hilbert prefix). */
case class S2Parent(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any, l: Any): Any =
    graft.index.S2Lite.parent(c.asInstanceOf[Long], l.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => s"graft.index.S2Lite.parent($c, $l)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** s2_neighbors(cell) → array<long> of edge/corner-touching cells
  * (cross-face aware). */
case class S2Neighbors(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any): Any =
    new GenericArrayData(graft.index.S2Lite.neighbors(c.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.index.S2Lite.neighbors($c))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// ---- Z3 / XZ2 index expressions ----

/** time_bin(epochSec, periodSec) → period bin (floorDiv). */
case class TimeBin(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(e: Any, p: Any): Any =
    graft.index.Z3.timeBin(e.asInstanceOf[Long], p.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, p) => s"graft.index.Z3.timeBin($e, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** xz2_encode(geom, maxRes) → single extent cell id (no multi-index dupes). */
case class Xz2Encode(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(g: Any, r: Any): Any =
    GeomRT.xz2(g.asInstanceOf[Array[Byte]], r.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, r) => s"${RT.C}.xz2($g, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** xz2_query_cover(geom, maxRes) → array<long> of candidate extent cells
  * for the query window (probe side of an XZ join). */
case class Xz2QueryCover(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(g: Any, r: Any): Any =
    new GenericArrayData(GeomRT.xz2QueryCover(g.asInstanceOf[Array[Byte]], r.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (g, r) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(${RT.C}.xz2QueryCover($g, $r))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** geohash_encode(lon, lat, chars) → base-32 geohash string (reference key
  * alphabet; GeoHash.scala:141-230). */
case class GeohashEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(lon: Any, lat: Any, c: Any): Any =
    UTF8String.fromString(graft.index.GeoHashStr.encode(
      lon.asInstanceOf[Double], lat.asInstanceOf[Double], c.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, c) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.index.GeoHashStr.encode($lon, $lat, $c))")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** geohash_box(hash) → WKB box of the geohash cell. */
case class GeohashBox(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(h: Any): Any =
    GeomRT.geohashBoxWkb(h.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, h => s"${RT.C}.geohashBoxWkb($h.toString())")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// ---- HexLite hexagonal tier ([[graft.index.HexLite]]): the "H3" half of
// the north star's H3/S2 pair — planar aperture-4 hierarchy, see the
// HexLite scaladoc for the (documented) deviations from true H3. ----

/** hex_encode(lon, lat, res) → packed hexagonal cell id. */
case class HexEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(lon: Any, lat: Any, r: Any): Any =
    graft.index.HexLite.encode(lon.asInstanceOf[Double], lat.asInstanceOf[Double], r.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, r) => s"graft.index.HexLite.encode($lon, $lat, $r)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}

/** hex_parent(cell, res) → coarser hex containing this cell's CENTER
  * (H3-style APPROXIMATE containment — aggregation rollups only; never a
  * join-cover derivation, see HexLite scaladoc). */
case class HexParent(left: Expression, right: Expression) extends BinaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any, r: Any): Any =
    graft.index.HexLite.parent(c.asInstanceOf[Long], r.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, r) => s"graft.index.HexLite.parent($c, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression = copy(l, r)
}

/** hex_neighbors(cell) → array<long> of the 6 axial neighbors. */
case class HexNeighbors(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any): Any =
    new GenericArrayData(graft.index.HexLite.neighbors(c.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.index.HexLite.neighbors($c))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

// ---- N-ary kernels ----

object StaticCall {
  /** An N-ary SQL function: its usage as SQL writes it, the static JVM
    * method it calls and that method's result type. */
  final case class Kernel(usage: String, fn: String, dataType: DataType) {
    val name: String = usage.takeWhile(_ != '(')
    val arity: Int = usage.count(_ == ',') + 1
  }

  private val Cells = ArrayType(LongType, containsNull = false)
  /** Every N-ary function by SQL name. The S2 and hex tiers differ only
    * in the kernels they call: a cover at one level, the per-row budgeted
    * cover, and the level that budgeted cover picks. */
  val kernels: Map[String, Kernel] = Seq(
    Kernel("vincenty_meters(lon1, lat1, lon2, lat2)", "graft.geom.Geodesy.vincentyMeters", DoubleType),
    Kernel("grid_cells(geom, xmin, ymin, xmax, ymax, w, h)", s"${RT.C}.gridCells", Cells),
    Kernel("z3_encode(lon, lat, epoch_sec, period_sec, res)", "graft.index.Z3.encode", LongType),
    Kernel("s2_cover_bbox(xmin, ymin, xmax, ymax, level)", "graft.index.S2Lite.coverBBox", Cells),
    Kernel("s2_cover_budget(xmin, ymin, xmax, ymax, budget, levels)", "graft.index.S2Lite.coverBBoxBudget", Cells),
    Kernel("s2_cover_level(xmin, ymin, xmax, ymax, budget, levels)", "graft.index.S2Lite.chooseLevel", IntegerType),
    Kernel("hex_cover_bbox(xmin, ymin, xmax, ymax, res)", "graft.index.HexLite.coverBBox", Cells),
    Kernel("hex_cover_budget(xmin, ymin, xmax, ymax, budget, levels)", "graft.index.HexLite.coverBudget", Cells),
    Kernel("hex_cover_level(xmin, ymin, xmax, ymax, budget, levels)", "graft.index.HexLite.chooseRes", IntegerType)
  ).map(k => k.name -> k).toMap
}

/** The template of every N-ary expression: null when any input is null,
  * otherwise one static call of the kernel, its result wrapped for
  * Catalyst. An `array<int>` input reaches the kernel as `int[]`, an
  * `array<long>` result leaves it as `long[]`. Interpreted eval invokes
  * the same method by reflection, so both paths run one kernel. */
case class StaticCall(name: String, children: Seq[Expression]) extends Expression with Serializable {
  private val kernel = StaticCall.kernels(name)
  require(children.size == kernel.arity, kernel.usage)
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator

  private def intArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }
  @transient private lazy val method = {
    val dot = kernel.fn.lastIndexOf('.')
    Class.forName(kernel.fn.take(dot), true, getClass.getClassLoader).getMethods
      .find(m => m.getName == kernel.fn.drop(dot + 1) && m.getParameterCount == children.size &&
        java.lang.reflect.Modifier.isStatic(m.getModifiers))
      .getOrElse(throw new NoSuchMethodException(s"${kernel.fn} of ${children.size} arguments"))
  }

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      val args = children.zip(vs).map { case (c, v) =>
        (if (intArray(c)) v.asInstanceOf[ArrayData].toIntArray() else v).asInstanceOf[AnyRef]
      }
      method.invoke(null, args: _*) match {
        case cells: Array[Long] => new GenericArrayData(cells)
        case r => r
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evs = children.map(_.genCode(ctx))
    val args = children.zip(evs).map { case (c, e) => if (intArray(c)) s"${e.value}.toIntArray()" else s"${e.value}" }
    val call = s"${kernel.fn}(${args.mkString(", ")})"
    val result = if (dataType.isInstanceOf[ArrayType]) s"new org.apache.spark.sql.catalyst.util.GenericArrayData($call)" else call
    ev.copy(code =
      code"""
        ${evs.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = ${evs.map(e => s"${e.isNull}").mkString(" || ")};
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (!${ev.isNull}) {
          ${ev.value} = $result;
        }""")
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression = copy(children = cs)
}
