package graft.plans

import graft.functions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/**
 * Logical rewrite of theta spatial joins into cell-keyed equi-joins — the
 * SQL-surface version of [[graft.ops.SpatialJoin.polygonsWithPoints]].
 * Without it, `a JOIN b ON st_contains(a.geom, st_point(b.lon, b.lat))`
 * plans as a nested-loop/cartesian join; with it, Catalyst sees an
 * equi-join key and picks hash/broadcast/AQE-skew strategies (the
 * strategy-choice role of the reference's QueryStrategyDecider,
 * geomesa-core/.../index/QueryStrategyDecider.scala:31-110).
 *
 * Soundness scope, shape 1 (point probe): the probe side must be a
 * CONSTRUCTED point (`st_point(x, y)`) — a point's containing cell at
 * each ladder level is unique, so polygon-side adaptive cover +
 * point-side ancestor ladder matches every qualifying pair on exactly one
 * cell: no duplicates, no dedupe, and the original predicate is kept for
 * exact refinement.
 *
 * Shape 2 (geometry × geometry intersects): rewritten through the XZ2
 * single-cell extent index — one side encodes its envelope to exactly ONE
 * cell (`xz2_encode`), the other explodes the (distinct) query cover, so
 * every qualifying pair again matches at most once: dedup-safe under SQL
 * bag semantics where a Z-cover×Z-cover join would not be. The fixed
 * rewrite resolution `XzRewriteRes` keeps the cumulative cover of ANY
 * window (even world-sized) under the enumeration budget, so the rewrite
 * can never trade a cartesian plan for a runtime overflow; finer control
 * is [[graft.ops.SpatioTemporal.xzIntersectsJoin]]'s plan-time degrade.
 */
object SpatialJoinRewrite extends Rule[LogicalPlan] {

  private val Z2 = graft.ops.CellFamily.Z2()
  /** Fixed XZ2 res for the SQL rewrite: Σ_{r≤7} 4^r ≈ 21.8k cells covers a
    * world-sized window and stays under the 65536 enumeration budget, so
    * the rewrite is overflow-proof for ANY literal/column window. */
  private val XzRewriteRes = 7

  /** (coverGeom, pointX, pointY) when the predicate is a supported
    * geom-contains-point shape. */
  private def asCoverPoint(e: Expression): Option[(Expression, Expression, Expression)] = e match {
    case StContains(g, StPoint(x, y)) => Some((g, x, y))
    case StCovers(g, StPoint(x, y)) => Some((g, x, y))
    case StIntersects(g, StPoint(x, y)) => Some((g, x, y))
    case StIntersects(StPoint(x, y), g) => Some((g, x, y))
    case StWithin(StPoint(x, y), g) => Some((g, x, y))
    // point-point distance join: the "cover geometry" is the ±r box around
    // one point (the DWithin→buffered-box rewrite, FilterHelper.scala:111-123)
    // optimizer-stage rewrite gets no type coercion: require double radius
    case StDWithinDeg(StPoint(ax, ay), StPoint(bx, by), r)
        if r.foldable && r.dataType == org.apache.spark.sql.types.DoubleType =>
      Some((StMakeBox(Seq(
        Subtract(ax, r), Subtract(ay, r), Add(ax, r), Add(ay, r))), bx, by))
    // st_dwithin METERS form (the GeoMesa SparkSQL signature predicate):
    // conservative per-row degree radius from the center's latitude —
    // the same Geodesy.metersToDegrees formula as an expression tree
    // (optimizer stage gets no type coercion, hence the explicit doubles).
    // SOUNDNESS: st_dwithin's own semantics are "planar distance <
    // metersToDegrees(r, a.lat) degrees" (GeomRT.dwithinMeters — the
    // reference's DWithin rewrite, FilterHelper.scala:111-123), and a
    // planar deg-ball is strictly inside the ±deg box, so the box never
    // under-covers THIS predicate. (It would under-cover a true
    // great-circle ball at high latitude — but that is not the predicate.)
    case StDWithin(StPoint(ax, ay), StPoint(bx, by), r)
        if r.foldable && r.dataType == org.apache.spark.sql.types.DoubleType =>
      val deg = metersToDegExpr(r, ay)
      Some((StMakeBox(Seq(
        Subtract(ax, deg), Subtract(ay, deg), Add(ax, deg), Add(ay, deg))), bx, by))
    case _ => None
  }

  /** Expression tree of Geodesy.metersToDegrees(r, lat): max(lat-deg,
    * lon-deg at the shrunk parallel) — over-covers, never under. */
  private def metersToDegExpr(r: Expression, lat: Expression): Expression = {
    val mPerDeg = Literal(111320.0)
    val latDeg = Divide(r, mPerDeg)
    val cosLat = Cos(ToRadians(Least(Seq(Literal(89.9), Abs(lat)))))
    val lonDeg = Divide(r, Multiply(mPerDeg, Greatest(Seq(Literal(1e-6), cosLat))))
    Greatest(Seq(latDeg, lonDeg))
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !j.output.exists(_.name.startsWith("__graft_")) =>
      val cs = conjuncts(cond)
      // already has a usable equi-conjunct? leave it to the normal planner
      val hasEqui = cs.exists {
        case EqualTo(a, b) =>
          (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
          (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
        case _ => false
      }
      val hit = if (hasEqui) None else cs.flatMap { c =>
        asCoverPoint(c).flatMap { case (g, x, y) =>
          val ptRefs = x.references ++ y.references
          if (g.references.subsetOf(left.outputSet) && ptRefs.subsetOf(right.outputSet))
            Some((left, right, g, x, y, false))
          else if (g.references.subsetOf(right.outputSet) && ptRefs.subsetOf(left.outputSet))
            Some((right, left, g, x, y, true))
          else None
        }
      }.headOption

      // shape 2: geometry × geometry intersects (non-point or unknown
      // probe shape) → XZ2 single-cell equi-join, no dedupe needed
      lazy val xzHit = if (hasEqui || hit.isDefined) None else cs.flatMap {
        case StIntersects(a, b) if asCoverPoint(StIntersects(a, b)).isEmpty =>
          if (a.references.nonEmpty && a.references.subsetOf(left.outputSet) &&
              b.references.nonEmpty && b.references.subsetOf(right.outputSet))
            Some((a, b))
          else if (a.references.nonEmpty && a.references.subsetOf(right.outputSet) &&
              b.references.nonEmpty && b.references.subsetOf(left.outputSet))
            Some((b, a))
          else None
        case _ => None
      }.headOption

      hit match {
        case None => xzHit match {
          case None => j
          case Some((gl, gr)) =>
            // cover-explode the statistically smaller side; encode the other
            val coverLeft = left.stats.sizeInBytes <= right.stats.sizeInBytes
            val (encSide, encGeom, covSide, covGeom) =
              if (coverLeft) (right, gr, left, gl) else (left, gl, right, gr)
            val ecell = Alias(Xz2Encode(encGeom, Literal(XzRewriteRes)), "__graft_ecell")()
            val encProj = Project(encSide.output :+ ecell, encSide)
            val ccell = AttributeReference("__graft_ccell", LongType, nullable = false)()
            val covGen = Generate(
              Explode(Xz2QueryCover(covGeom, Literal(XzRewriteRes))),
              unrequiredChildIndex = Nil, outer = false, qualifier = None,
              generatorOutput = Seq(ccell), child = covSide)
            val newCond = And(EqualTo(ecell.toAttribute, ccell), cond)
            val (nl, nr) = if (coverLeft) (covGen, encProj) else (encProj, covGen)
            Project(j.output, Join(nl, nr, Inner, Some(newCond), hint))
        }
        case Some((polySide, pointSide, g, x, y, swapped)) =>
          val pcell = AttributeReference("__graft_pcell", LongType, nullable = false)()
          val polyGen = Generate(
            Explode(Z2.cover(Seq(g))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(pcell), child = polySide)

          val qcell = AttributeReference("__graft_qcell", LongType, nullable = false)()
          val pointGen = Generate(
            Explode(Z2.ladder(Seq(x, y))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(qcell), child = pointSide)

          val newCond = And(EqualTo(pcell, qcell), cond)
          val (nl, nr) = if (swapped) (pointGen, polyGen) else (polyGen, pointGen)
          Project(j.output, Join(nl, nr, Inner, Some(newCond), hint))
      }
  }
}
