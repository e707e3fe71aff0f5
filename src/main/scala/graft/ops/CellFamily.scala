package graft.ops

import graft.functions._
import org.apache.spark.sql.catalyst.expressions.{CreateArray, Expression, Literal}
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/**
 * How one cell index keys the cover join, defined once (the reference
 * defines its key layout once too, IndexSchema.scala:33-67): the ladder
 * levels and cover budget, a build row's budgeted cover and the level that
 * cover sits at, and a probe's cell at a level. Built from the Catalyst
 * expressions, so the Column API ([[SpatialJoin]]) and the logical rule
 * ([[graft.plans.SpatialJoinRewrite]]) key alike.
 *
 * A build row is `Seq(geometry)` for Z2 and `Seq(xmin, ymin, xmax, ymax)`
 * for S2 and hex. A probe is `Seq(point geometry)` or `Seq(lon, lat)` for
 * Z2, and `Seq(lon, lat)` for S2 and hex.
 */
sealed abstract class CellFamily {
  def levels: Array[Int]
  def budget: Int
  def finest: Int = levels.last

  /** The row's cells at the finest ladder level whose cover fits the budget. */
  def cover(build: Seq[Expression]): Expression
  /** The level [[cover]] picks for the row: the cover kernel's own choice. */
  def coverLevel(build: Seq[Expression]): Expression
  /** The probe's cell at `level`. */
  def cellAt(probe: Seq[Expression], level: Int): Expression
  /** A cell's ancestor at a coarser level, for families whose parents nest
    * exactly (Z2, S2); None for hex, whose parents only approximately
    * contain their children, so a probe re-encodes at every level. */
  protected def parent: Option[(Expression, Expression) => Expression]

  /** The probe's cell at [[finest]], when its coarser cells derive from it. */
  def fineCell(probe: Seq[Expression]): Option[Expression] = parent.map(_ => cellAt(probe, finest))

  /** The probe's cells at levels `ls`, one per level. Where parents nest,
    * `fine` stands for the probe's [[fineCell]] (the expression itself, or
    * a column holding it) and the coarser cells are its ancestors. */
  def ladder(probe: Seq[Expression], ls: Seq[Int], fine: Option[Expression]): Expression =
    CreateArray(ls.map { l =>
      (parent, fine) match {
        case (Some(p), Some(f)) => if (l == finest) f else p(f, Literal(l))
        case _ => cellAt(probe, l)
      }
    })

  /** The probe's cells at every ladder level, encoded in place. */
  def ladder(probe: Seq[Expression]): Expression = ladder(probe, levels.toSeq, fineCell(probe))

  protected def levelsLit: Literal = Literal.create(levels, ArrayType(IntegerType, containsNull = false))
}

object CellFamily {
  final case class Z2(levels: Array[Int] = SpatialJoin.DefaultLevels,
                      budget: Int = SpatialJoin.DefaultBudget) extends CellFamily {
    def cover(build: Seq[Expression]): Expression = CellCoverBudget(build.head, Literal(budget), levelsLit)
    def coverLevel(build: Seq[Expression]): Expression = CellCoverLevel(build.head, Literal(budget), levelsLit)
    // a constructed st_point(x, y) encodes its raw doubles: no WKB round trip
    def cellAt(probe: Seq[Expression], level: Int): Expression = probe match {
      case Seq(StPoint(x, y)) => Z2Encode(x, y, Literal(level))
      case Seq(g) => CellOf(g, Literal(level))
      case Seq(x, y) => Z2Encode(x, y, Literal(level))
    }
    protected def parent: Option[(Expression, Expression) => Expression] = Some(CellParent)
  }

  /** The S2 and hex tiers: both cover a row's bounding box. */
  sealed abstract class BBoxFamily(tier: String) extends CellFamily {
    def cover(build: Seq[Expression]): Expression =
      StaticCall(s"${tier}_cover_budget", build :+ Literal(budget) :+ levelsLit)
    def coverLevel(build: Seq[Expression]): Expression =
      StaticCall(s"${tier}_cover_level", build :+ Literal(budget) :+ levelsLit)
  }

  final case class S2(levels: Array[Int] = SpatialJoin.S2Levels,
                      budget: Int = SpatialJoin.S2Budget) extends BBoxFamily("s2") {
    def cellAt(probe: Seq[Expression], level: Int): Expression = S2Encode(probe(0), probe(1), Literal(level))
    protected def parent: Option[(Expression, Expression) => Expression] = Some(S2Parent)
  }

  final case class Hex(levels: Array[Int] = SpatialJoin.HexLevels,
                       budget: Int = SpatialJoin.HexBudget) extends BBoxFamily("hex") {
    def cellAt(probe: Seq[Expression], level: Int): Expression = HexEncode(probe(0), probe(1), Literal(level))
    protected def parent: Option[(Expression, Expression) => Expression] = None
  }
}
