package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, explode}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; specs run
  * in the forked test JVM). sf0.001 testdata is the common fixture. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
  def sqlContextImplicits: SparkSession = spark

  /** Run `body` with temporary SQL conf overrides, restoring afterwards. */
  def withSqlConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Cells holding more than `minRows` of `points`' probe cells (`cells`,
    * one per ladder level), from a full histogram rather than the join's
    * 5% sample: lets the sf0.001 fixture drive the salted join's hot path. */
  def histogramHotCells(points: DataFrame, cells: Seq[Column], minRows: Long): Array[Long] =
    points.select(explode(array(cells: _*)).as("c")).groupBy("c").count()
      .filter(col("count") > minRows).select("c").collect().map(_.getLong(0))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.st.register(s)
    graft.functions.tx.register(s)
    graft.functions.vx.register(s)
    graft.functions.mx.register(s)
    graft.cql.Ecql.register(s)
    s
  }
}
