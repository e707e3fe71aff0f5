package graft

import graft.layout.CellLayout
import graft.pages.WebPages
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

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

  test("manifest JSON round-trips quotes, backslashes and non-ASCII in inputPath") {
    val out = freshDir()
    val input = "in\"put\\dir/ünïcødé/路径 \"x\""
    val keyed = CellLayout.withCellKeys(pages, col("lon"), col("lat"), col("doc_id"))
    val manifest = CellLayout.write(keyed, out, input)
    assert(manifest.values.forall(_.inputPath == input))
    assert(CellLayout.readManifest(out) === manifest)
    CellLayout.snapshotVersions(out).foreach { v =>
      assert(CellLayout.readManifest(out, Some(v)).values.forall(_.inputPath == input))
    }
  }

  test("a manifest without the recorded schema and file lists is refused with a rewrite hint") {
    val out = freshDir()
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "_graft_manifest.json"),
      "[\n{\"bucket\":34,\"rows\":2,\"bytes\":3,\"files\":1,\"wave\":0,\"input\":\"x\",\"wallMs\":5}\n]"
        .getBytes("UTF-8"))
    val e = intercept[IllegalStateException](CellLayout.read(spark, out))
    assert(e.getMessage.contains("rewrite the table"), e.getMessage)
  }

  /** Jobs started while `body` runs, up to a sentinel job run after it
    * (listener events arrive in order), each with the SQL execution that
    * started it ("" for none). */
  private def jobsDuring[T](body: => T): (T, Seq[(Int, String)]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.job.description") == "__sentinel"))
          sentinel.countDown()
        else if (sentinel.getCount > 0) jobs.add(e.jobId ->
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      spark.sparkContext.setJobDescription("__sentinel")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener never saw the sentinel")
      (result, jobs.toArray.map(_.asInstanceOf[(Int, String)]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("read starts no Spark job at any file count; its scan reads exactly the covered buckets' files") {
    val out = freshDir()
    val keyed = CellLayout.withCellKeys(pages, col("lon"), col("lat"), col("doc_id"), bucketRes = 2)
    // small files: more paths than parallelPartitionDiscovery.threshold (32)
    val manifest = withSqlConf("spark.sql.files.maxRecordsPerFile" -> "10") {
      CellLayout.write(keyed, out, sfDir)
    }
    val total = manifest.values.map(_.files).sum
    assert(total > 40, s"only $total files")
    def expectFiles(box: (Double, Double, Double, Double)): Set[String] =
      graft.index.Z2.coverBBox(box._1, box._2, box._3, box._4, 2).flatMap(manifest.get)
        .flatMap(_.dataFiles.map(f => java.nio.file.Paths.get(out, f.path).toString)).toSet
    def local(f: String) = java.nio.file.Paths.get(new java.net.URI(f)).toString
    for (box <- Seq((-180.0, -90.0, 180.0, 90.0), (-80.0, 35.0, -70.0, 45.0))) {
      val (df, jobs) = jobsDuring(CellLayout.read(spark, out, queryBox = Some(box)))
      assert(jobs.isEmpty, s"read of $box started jobs $jobs")
      val want = expectFiles(box)
      assert(want.nonEmpty)
      assert(df.inputFiles.map(local).toSet === want, s"box $box")
    }
    assert(expectFiles((-180.0, -90.0, 180.0, 90.0)).size === total)
    assert(expectFiles((-80.0, 35.0, -70.0, 45.0)).size < total)
    val (_, jobs) = jobsDuring(CellLayout.read(spark, out))
    assert(jobs.isEmpty, s"full read started jobs $jobs")
    assert(CellLayout.read(spark, out).count() === manifest.values.map(_.rows).sum)
  }

  test("a box that covers no bucket reads an empty frame of the recorded schema") {
    val out = freshDir()
    val keyed = CellLayout.withCellKeys(pages, col("lon"), col("lat"), col("doc_id"))
    val manifest = CellLayout.write(keyed, out, sfDir)
    val empty = Seq((-1.0, -1.0, 1.0, 1.0), (170.0, -89.0, 179.0, -80.0))
      .find(b => graft.index.Z2.coverBBox(b._1, b._2, b._3, b._4, CellLayout.BucketRes).forall(!manifest.contains(_)))
    assert(empty.nonEmpty, "fixture has a point in every probe box")
    val df = CellLayout.read(spark, out, queryBox = empty)
    assert(df.schema === CellLayout.read(spark, out).schema)
    assert(df.inputFiles.isEmpty)
    assert(df.count() === 0)
  }

  test("resume refuses a frame whose schema drifted, before any wave runs") {
    val out = freshDir()
    val keyed = CellLayout.withCellKeys(pages, col("lon"), col("lat"), col("doc_id"))
    val partial = CellLayout.write(keyed, out, sfDir, waves = 4, maxWaves = 1)
    val versions = CellLayout.snapshotVersions(out)
    val secType = keyed.schema("sec").dataType.simpleString
    val drifted = Seq(
      (keyed.withColumn("sec", col("sec").cast("string")), "sec", secType, "string"),
      (keyed.withColumn("extra", lit(1)), "extra", "absent", "int"),
      (keyed.drop("sec"), "sec", secType, "absent"))
    drifted.foreach { case (df, column, was, now) =>
      val e = intercept[IllegalArgumentException](CellLayout.write(df, out, sfDir, waves = 4))
      Seq(s"`$column`", s"$was in", s"but $now in").foreach { part =>
        assert(e.getMessage.contains(part), s"'$part' missing from: ${e.getMessage}")
      }
      assert(CellLayout.readManifest(out) === partial)
      assert(CellLayout.snapshotVersions(out) === versions)
    }
    // the same schema still resumes
    assert(CellLayout.write(keyed, out, sfDir, waves = 4).size > partial.size)
  }

  test("a small input of known size writes in one wave's jobs: no discovery job, one snapshot") {
    val out = freshDir()
    val keyed = CellLayout.withCellKeys(pages, col("lon"), col("lat"), col("doc_id"))
    val (manifest, jobs) = jobsDuring(CellLayout.write(keyed, out, sfDir))
    assert(jobs.nonEmpty)
    // the wave's shuffle-map job and its write job belong to the one write
    // query; a bucket-discovery `collect` would be another execution
    assert(jobs.map(_._2).distinct.size === 1 && jobs.head._2.nonEmpty, s"jobs $jobs")
    assert(CellLayout.snapshotVersions(out) === Seq(1))
    assert(manifest.values.forall(_.wave == 0))
    assertRowsMatchScan(out, manifest)
  }

  test("a null lon fails the write inside its wave job, naming `bucket`; nothing is committed") {
    val out = freshDir()
    val first = pages.select(min("doc_id")).head().getLong(0)
    val holed = pages.withColumn("lon", when(col("doc_id") === first, lit(null)).otherwise(col("lon")))
    val keyed = CellLayout.withCellKeys(holed, col("lon"), col("lat"), col("doc_id"))
    val (e, jobs) = jobsDuring(intercept[Exception](CellLayout.write(keyed, out, sfDir)))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(m => m.contains("`bucket`") && m.contains("withCellKeys received a null lon/lat")),
      messages.mkString("\n"))
    assert(jobs.map(_._2).distinct.size === 1, s"the failure must come from the wave's own jobs: $jobs")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_graft_manifest.json")))
    assert(CellLayout.snapshotVersions(out).isEmpty)
  }
}
