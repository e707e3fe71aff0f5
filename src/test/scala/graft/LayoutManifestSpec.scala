package graft

import graft.layout.CellLayout
import graft.pages.WebPages
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The manifest's per-bucket rows are read from the written files' parquet
  * footers; they must equal a scan's per-bucket counts, and `write` must
  * never scan its own output to get them. */
class LayoutManifestSpec extends SparkSpec {

  private def freshDir() = java.nio.file.Files.createTempDirectory("graft_manifest").toString

  private def pages = WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat", "sec")

  private def assertRowsMatchScan(out: String, manifest: Map[Long, CellLayout.BucketMeta]): Unit = {
    val scanned = CellLayout.read(spark, out).groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scanned.nonEmpty)
    assert(manifest.map { case (b, m) => b -> m.rows } === scanned)
    assert(CellLayout.readManifest(out) === manifest)
  }

  test("bucket-only write: manifest rows per bucket equal the scanned counts") {
    val out = freshDir()
    val keyed = CellLayout.withCellKeys(pages, col("lon"), col("lat"), col("doc_id"))
    assertRowsMatchScan(out, CellLayout.write(keyed, out, sfDir))
  }

  test("day x bucket write: manifest rows per bucket sum over the day partitions") {
    val out = freshDir()
    val keyed = CellLayout.withSpaceTimeKeys(pages, col("lon"), col("lat"), col("sec"), col("doc_id"))
    val manifest = CellLayout.write(keyed, out, sfDir)
    // the fixture spreads buckets over several days, so footers of several
    // files add up per bucket
    assert(manifest.values.exists(_.files > 1))
    assertRowsMatchScan(out, manifest)
  }

  test("killed-then-resumed write: manifest rows per bucket equal the scanned counts") {
    val out = freshDir()
    val keyed = CellLayout.withCellKeys(pages, col("lon"), col("lat"), col("doc_id"))
    val partial = CellLayout.write(keyed, out, sfDir, waves = 4, maxWaves = 1)
    val full = CellLayout.write(keyed, out, sfDir, waves = 4)
    assert(partial.size < full.size)
    assertRowsMatchScan(out, full)
  }

  test("no query executed inside write scans the output directory") {
    val out = freshDir()
    val keyed = CellLayout.withSpaceTimeKeys(pages, col("lon"), col("lat"), col("sec"), col("doc_id"))
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (qe.analyzed.output.exists(_.name == "__sentinel")) sentinel.countDown()
        qe.analyzed.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.foreach(p => roots.add(p.toString))
            case _ =>
          }
          case _ =>
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      CellLayout.write(keyed, out, sfDir)
      // listener events arrive in order: once the sentinel query is seen,
      // every query of the write has been reported
      spark.range(1).select(col("id").as("__sentinel")).collect()
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener never saw the sentinel")
    } finally spark.listenerManager.unregister(listener)
    val scanned = roots.toArray.map(_.toString)
    assert(scanned.exists(_.contains(sfDir)), s"the input scan must be seen: ${scanned.toSeq}")
    assert(!scanned.exists(_.contains(out)), s"write scanned its output: ${scanned.toSeq}")
  }
}
