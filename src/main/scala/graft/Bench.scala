package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs every SparkEntry query once (after a
  * small warmup that absorbs session/codegen init) and prints ONE JSON
  * line with per-query seconds plus flagship-join throughput. A query
  * that fails is recorded as "error", left out of `total` and listed
  * under "errors". */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)

    // warmup: touch every input table + exercise codegen once
    Seq("documents", "events", "supplier", "nation", "lineitem", "orders",
      "customer", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => }
    }
    try SparkEntry.queries("q_bbox_filter")(spark, sfDir).count()
    catch { case _: Throwable => }

    // SPARK_GRAFT_ONLY=q_a,q_b restricts to a subset (diagnosis runs);
    // queries run in sorted name order so per-query timings are comparable
    // across rounds (Map hash order reshuffles whenever a key is added)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // best of 2 runs per query: single-pass timings are dominated by where
    // a query lands in the session (JIT/codegen warmup), not by the
    // operator — measured: the first query in sorted order pays up to 7x.
    // A query that throws is an error (None), never a time.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        def once(): Option[Double] = {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
          catch { case NonFatal(_) => None }
        }
        name -> (for (a <- once(); b <- once()) yield math.min(a, b))
      }

    // flagship spatial-join throughput (north rule metric): input rows/sec
    val pageRows = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val t0 = System.nanoTime()
    SparkEntry.queries("q_st_contains_join")(spark, sfDir).count()
    val joinSec = (System.nanoTime() - t0) / 1e9
    val throughput = pageRows / joinSec

    val qs = results.map { case (k, v) => s"\"$k\":" + v.fold("\"error\"")(_.toString) }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val errors = results.collect { case (k, None) => s"\"$k\"" }.mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","timing":"best_of_2_runs_per_query","queries":$qs,"errors":$errors,"sf":"$sfDir","join_input_rows":$pageRows,"join_sec":$joinSec,"join_rows_per_sec":$throughput}""")
    spark.stop()
  }
}
