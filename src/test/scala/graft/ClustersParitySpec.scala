package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{IntegerType, LongType}

/** `Dedup.clusters` finishes graphs of at most `DriverEdges` edges on the
  * driver (union-find) and runs distributed label propagation above that.
  * Both paths must return the same rows and schema on every graph. */
class ClustersParitySpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Option[Any], Option[Any])] =
    df.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq.sortBy(_.toString)

  /** Runs both paths, asserts they agree, returns the driver path's rows. */
  private def parity(edges: DataFrame): Seq[(Option[Any], Option[Any])] = {
    val driver = Dedup.clusters(edges, "id_a", "id_b", 20, Dedup.DriverEdges)
    val dist = Dedup.clusters(edges, "id_a", "id_b", 20, -1)
    assert(driver.queryExecution.analyzed.isInstanceOf[LocalRelation], "driver path not taken")
    assert(!dist.queryExecution.analyzed.isInstanceOf[LocalRelation], "distributed path not taken")
    assert(driver.schema === dist.schema)
    assert(driver.columns.toSeq === Seq("id", "cluster"))
    val got = rows(driver)
    assert(got === rows(dist))
    got
  }

  /** Expected (id, cluster) of a long-id edge list, by brute-force closure. */
  private def minLabels(edges: Seq[(Long, Long)]): Seq[(Option[Any], Option[Any])] = {
    var label = edges.flatMap { case (a, b) => Seq(a, b) }.map(v => v -> v).toMap
    var changed = true
    while (changed) {
      val next = edges.foldLeft(label) { case (l, (a, b)) =>
        val m = math.min(l(a), l(b)); l.updated(a, m).updated(b, m)
      }
      changed = next != label
      label = next
    }
    label.toSeq.map { case (v, c) => (Option[Any](v), Option[Any](c)) }.sortBy(_.toString)
  }

  test("300-edge chain: both paths label every vertex with the chain min") {
    val chain = (0L until 300L).map(i => (i, i + 1))
    assert(parity(chain.toDF("id_a", "id_b")) === minLabels(chain))
  }

  test("stars, self-loops, duplicate and reversed edges") {
    val stars = (1L to 40L).map(i => (1000L, i)) ++ (501L to 540L).map(i => (500L, i))
    val loops = Seq((5L, 5L), (5L, 6L), (9L, 9L), (-3L, -3L))
    val dups = Seq((70L, 71L), (71L, 70L), (70L, 71L), (72L, 71L), (72L, 71L))
    Seq(stars, loops, dups, stars ++ loops ++ dups).foreach { g =>
      assert(parity(g.toDF("id_a", "id_b")) === minLabels(g))
    }
  }

  test("seeded random graphs over a sparse, signed id space") {
    Seq(11, 12, 13).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val ids = Array.fill(120)(rnd.nextLong() % 1000000000000L)
      val g = Seq.fill(150)((ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length))))
      assert(parity(g.toDF("id_a", "id_b")) === minLabels(g), s"seed $seed")
    }
  }

  test("IntegerType ids keep their type on both paths") {
    val df = Seq((3, 4), (4, 5), (10, 2), (7, 7)).toDF("id_a", "id_b")
    assert(parity(df).toMap === Map(3 -> 3, 4 -> 3, 5 -> 3, 2 -> 2, 10 -> 2, 7 -> 7)
      .map { case (v, c) => Some(v) -> Some(c) })
    assert(Dedup.clusters(df, "id_a", "id_b").schema.map(_.dataType) === Seq(IntegerType, IntegerType))
    // mixed widths widen to the wider type, as the distributed union does
    val mixed = Seq((1, 2L), (2, 3L)).toDF("id_a", "id_b")
    assert(parity(mixed).map(_._2) === Seq(Some(1L), Some(1L), Some(1L)))
    assert(Dedup.clusters(mixed, "id_a", "id_b").schema.map(_.dataType) === Seq(LongType, LongType))
  }

  test("an empty input gives an empty (id, cluster) frame") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(parity(empty).isEmpty)
    assert(Dedup.clusters(empty, "id_a", "id_b").schema.map(_.dataType) === Seq(LongType, LongType))
  }

  test("a null endpoint links nothing and labels as (null, null)") {
    val g = Seq[(Option[Long], Option[Long])](
        (Some(1L), None), (Some(3L), Some(4L)), (None, Some(4L)), (None, None))
      .toDF("id_a", "id_b")
    // the distributed rounds' output, pinned
    assert(rows(Dedup.clusters(g, "id_a", "id_b", 20, -1)) ===
      Seq((None, None), (Some(1L), Some(1L)), (Some(3L), Some(3L)), (Some(4L), Some(3L))))
    parity(g)
  }

  test("graphs above the edge bound run the distributed rounds") {
    val g = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("id_a", "id_b")
    val over = Dedup.clusters(g, "id_a", "id_b", 20, 2)
    assert(!over.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(rows(over) === rows(Dedup.clusters(g, "id_a", "id_b", 20, 3)))
  }
}
