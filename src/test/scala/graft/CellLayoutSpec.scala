package graft

import graft.layout.CellLayout
import graft.pages.WebPages
import org.apache.spark.sql.functions._

/** Write path: cell-partitioned layout, manifest metrics, kill/resume,
  * partition pruning on read (north rule: resumable stages with
  * per-partition lineage + metrics). */
class CellLayoutSpec extends SparkSpec {

  private def freshDir() = java.nio.file.Files.createTempDirectory("graft_layout").toString

  private def keyedPages = CellLayout.withCellKeys(
    WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat", "sec"),
    col("lon"), col("lat"), col("doc_id"))

  test("write produces bucket partitions + manifest with row/byte metrics") {
    val out = freshDir()
    val manifest = CellLayout.write(keyedPages, out, inputPath = sfDir)
    assert(manifest.nonEmpty)
    val totalRows = manifest.values.map(_.rows).sum
    assert(totalRows === keyedPages.count())
    manifest.values.foreach { m =>
      assert(m.bytes > 0 && m.files > 0 && m.inputPath === sfDir)
    }
    // round-trip: all rows come back
    val back = CellLayout.read(spark, out)
    assert(back.count() === totalRows)
    assert(back.columns.contains("bucket"))
  }

  test("kill/resume: interrupted write resumes only missing buckets; final data identical") {
    val out = freshDir()
    // "kill" after the first wave
    val partial = CellLayout.write(keyedPages, out, sfDir, waves = 4, maxWaves = 1)
    val full = CellLayout.write(keyedPages, out, sfDir, waves = 4) // resume
    assert(partial.size < full.size, "first run must be partial")
    // resumed buckets keep their original wave tag — proof they were not rewritten
    partial.foreach { case (b, m) => assert(full(b).wave === m.wave && full(b).rows === m.rows) }
    val expect = keyedPages.select("doc_id").collect().map(_.getLong(0)).sorted
    val got = CellLayout.read(spark, out).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === expect.toSeq)
    // idempotent: a third run does nothing
    val again = CellLayout.write(keyedPages, out, sfDir)
    assert(again === full)
  }

  test("crash window: bucket appended but un-manifested is NOT duplicated on resume") {
    val out = freshDir()
    val partial = CellLayout.write(keyedPages, out, sfDir, waves = 4, maxWaves = 1)
    // simulate a kill between the parquet append and the manifest
    // checkpoint: one PENDING bucket's data is already on disk
    val crashed = keyedPages.select("bucket").distinct().collect().map(_.getLong(0))
      .filterNot(partial.contains).head
    keyedPages.filter(col("bucket") === crashed)
      .write.mode("append").partitionBy("bucket").parquet(out)
    // resume must delete the un-manifested dir before re-writing it
    CellLayout.write(keyedPages, out, sfDir, waves = 4)
    val expect = keyedPages.count()
    assert(CellLayout.read(spark, out).count() === expect,
      "resume after mid-commit kill must not duplicate rows")
  }

  test("bucketed tables: cell equi-join between two bucketed tables plans with NO shuffle") {
    Seq("graft_bucketed_a", "graft_bucketed_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(loc)) {
        val w = java.nio.file.Files.walk(loc)
        try w.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
        finally w.close()
      }
    }
    CellLayout.writeBucketedTable(keyedPages, "graft_bucketed_a", numBuckets = 16)
    CellLayout.writeBucketedTable(keyedPages, "graft_bucketed_b", numBuckets = 16)
    // disable broadcast so the planner must pick the co-located sort-merge
    // path (at cluster scale both sides are far beyond broadcast anyway)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.table("graft_bucketed_a").select(col("doc_id").as("a_id"), col("bucket"))
      val b = spark.table("graft_bucketed_b").select(col("doc_id").as("b_id"), col("bucket"))
      // join keys == bucket spec: both scans read co-located buckets
      val j = a.join(b, Seq("bucket"))
      val phys = j.queryExecution.executedPlan.toString()
      assert(phys.contains("SortMergeJoin"), phys.take(1500))
      assert(!phys.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${phys.take(1500)}")
      assert(phys.contains("Bucketed: true"), phys.take(1500))
      // exact-match pairs survive the fan-out (sanity on results)
      assert(j.filter(col("a_id") === col("b_id")).count() === keyedPages.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE graft_bucketed_a"); spark.sql("DROP TABLE graft_bucketed_b")
  }

  test("manifest-driven hot cells drive the salted join — no sampling job, same results") {
    val out = freshDir()
    CellLayout.write(keyedPages, out, sfDir)
    val hot = CellLayout.hotCellsFromManifest(out, minRows = 0)
    assert(hot.nonEmpty)
    // ancestors at coarse ladder levels + bounded children expansion below
    // BucketRes (finer levels fall back to sampling)
    hot.foreach(c => assert(graft.index.Z2.resOf(c) <= CellLayout.BucketRes + 3))
    assert(hot.exists(c => graft.index.Z2.resOf(c) < CellLayout.BucketRes))
    assert(hot.exists(c => graft.index.Z2.resOf(c) > CellLayout.BucketRes))
    val regions = WebPages.regions(spark, sfDir).select("region_id", "region_geom")
    val pts = WebPages.pages(spark, sfDir).select("doc_id", "geom")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("region_id", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = pairs(graft.ops.SpatialJoin.containsJoin(regions, "region_geom", pts, "geom"))
    val got = pairs(graft.ops.SpatialJoin.polygonsWithPoints(
      regions, col("region_geom"), pts, col("geom"),
      df => graft.functions.st.contains(df("region_geom"), df("geom")),
      broadcastPolys = Some(false), salts = 4, knownHotCells = Some(hot)))
    assert(got === expect)
    assert(expect.nonEmpty)
  }

  test("read with queryBox prunes directory partitions (PartitionFilters)") {
    val out = freshDir()
    CellLayout.write(keyedPages, out, sfDir)
    val pruned = CellLayout.read(spark, out, Some((-80.0, 35.0, -70.0, 45.0)))
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [") && plan.contains("bucket"),
      plan.takeRight(600))
    // pruned read ⊇ exact bbox rows (cover is an over-approximation)
    val exact = keyedPages.filter(col("lon") > -80 && col("lon") < -70 &&
      col("lat") > 35 && col("lat") < 45).count()
    assert(pruned.count() >= exact)
    assert(pruned.filter(col("lon") > -80 && col("lon") < -70 &&
      col("lat") > 35 && col("lat") < 45).count() === exact)
  }

  test("read derives fine-cell ranges that reach the parquet scan (PushedFilters)") {
    val out = freshDir()
    CellLayout.write(keyedPages, out, sfDir)
    val box = (-80.0, 35.0, -70.0, 45.0)
    val pruned = CellLayout.read(spark, out, Some(box))
    // the sorted in-file key gets BETWEEN conjuncts pushed to the scan —
    // row-group min/max pruning inside hot buckets, not just dir pruning
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scan.nonEmpty, "expected a FileSourceScanExec leaf")
    val pushed = scan.get.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("cell"), s"cell ranges must reach the scan: $pushed")
    // ranges are a SUPERSET of the box (soundness) and at least as tight as
    // bucket-only pruning (every surviving row's fine cell is in a range)
    val exact = keyedPages.filter(col("lon") > -80 && col("lon") < -70 &&
      col("lat") > 35 && col("lat") < 45).count()
    assert(pruned.count() >= exact)
    assert(pruned.filter(col("lon") > -80 && col("lon") < -70 &&
      col("lat") > 35 && col("lat") < 45).count() === exact)
    val ranges = graft.index.Z2.coverRanges(box._1, box._2, box._3, box._4,
      CellLayout.BucketRes + 4, CellLayout.SortRes)
    val cells = pruned.select("cell").collect().map(_.getLong(0))
    assert(cells.forall(c => ranges.exists { case (lo, hi) => c >= lo && c <= hi }))
  }

  test("coverRanges: merged, sorted, and exactly the descendant intervals") {
    import graft.index.Z2
    val rs = Z2.coverRanges(-10.0, -10.0, 10.0, 10.0, 4, 8)
    assert(rs.nonEmpty && rs.forall { case (lo, hi) => lo <= hi })
    // superset: every fine cell of a point in the box falls in some range
    val probe = Z2.encode(0.5, 0.5, 8)
    assert(rs.exists { case (lo, hi) => probe >= lo && probe <= hi })
    // sorted and non-overlapping
    rs.sliding(2).foreach {
      case Array((_, h1), (l2, _)) => assert(h1 < l2)
      case _ =>
    }
    // a cell whose coarse ancestor is far outside the box is NOT covered
    val outside = Z2.encode(120.0, -60.0, 8)
    assert(!rs.exists { case (lo, hi) => outside >= lo && outside <= hi })
  }

  test("space-time layout: day + bucket partitions both prune (reference date tier)") {
    val out = freshDir()
    val keyed = CellLayout.withSpaceTimeKeys(
      WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat", "sec"),
      col("lon"), col("lat"), col("sec"), col("doc_id"))
    CellLayout.write(keyed, out, sfDir)
    val pruned = CellLayout.read(spark, out, Some((-80.0, 35.0, -70.0, 45.0)), Some((3L, 10L)))
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: ["), plan.takeRight(400))
    assert(plan.contains("day") && plan.contains("bucket"), plan.takeRight(600))
    val exact = keyed.filter(col("lon") > -80 && col("lon") < -70 &&
      col("lat") > 35 && col("lat") < 45 && col("day") >= 3 && col("day") <= 10)
    assert(pruned.filter(col("lon") > -80 && col("lon") < -70 &&
      col("lat") > 35 && col("lat") < 45).count() === exact.count())
    // manifest totals still correct with nested partitions
    assert(CellLayout.countEstimate(out) === keyed.count())
    assert(CellLayout.readManifest(out).values.forall(m => m.bytes > 0 && m.files > 0))
  }

  test("snapshot history: every wave checkpoint is an immutable version; read time-travels") {
    val out = freshDir()
    // two invocations of two waves each → snapshots v1..v4
    CellLayout.write(keyedPages, out, sfDir, waves = 4, maxWaves = 2)
    val vsPartial = CellLayout.snapshotVersions(out)
    assert(vsPartial === Seq(1, 2))
    CellLayout.write(keyedPages, out, sfDir, waves = 4) // resume to completion
    // the resume commits the waves the first invocation did not reach, so
    // history keeps growing: contiguous versions, one per completed wave
    val vs = CellLayout.snapshotVersions(out)
    assert(vs === (1 to vs.max))
    assert(vs.size > 2)

    // the current pointer equals the last snapshot
    assert(CellLayout.readManifest(out) === CellLayout.readManifest(out, Some(vs.max)))
    // versions grow monotonically in bucket count and rows
    val counts = vs.map(v => CellLayout.countEstimate(out, Some(v)))
    assert(counts === counts.sorted)
    assert(counts.last === keyedPages.count())

    // time travel: reading at snapshot 2 returns exactly the rows of the
    // buckets committed by the first invocation — no more, no less
    val m2 = CellLayout.readManifest(out, Some(2))
    assert(CellLayout.read(spark, out, snapshot = Some(2)).count() ===
      m2.values.map(_.rows).sum)
    // and the snapshot read composes with spatial pruning (superset + refine)
    val box = (-80.0, 35.0, -70.0, 45.0)
    val snapBox = CellLayout.read(spark, out, queryBox = Some(box), snapshot = Some(2))
      .filter(col("lon") > box._1 && col("lon") < box._3 &&
        col("lat") > box._2 && col("lat") < box._4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fullBox = CellLayout.read(spark, out, queryBox = Some(box))
      .filter(col("lon") > box._1 && col("lon") < box._3 &&
        col("lat") > box._2 && col("lat") < box._4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(snapBox.subsetOf(fullBox))
  }

  test("readers see committed buckets only: an un-manifested bucket dir is invisible") {
    val out = freshDir()
    val partial = CellLayout.write(keyedPages, out, sfDir, waves = 4, maxWaves = 1)
    // the crash window: a pending bucket appended, the checkpoint never written
    val crashed = keyedPages.select("bucket").distinct().collect().map(_.getLong(0))
      .filterNot(partial.contains).head
    keyedPages.filter(col("bucket") === crashed)
      .write.mode("append").partitionBy("bucket").parquet(out)
    assert(CellLayout.read(spark, out).count() === CellLayout.countEstimate(out))
    assert(CellLayout.read(spark, out).filter(col("bucket") === crashed).count() === 0)
  }

  test("a file the manifest names but the disk lacks fails the read, naming the file") {
    val out = freshDir()
    val manifest = CellLayout.write(keyedPages, out, sfDir)
    val gone = manifest.values.head.dataFiles.head.path
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, gone))
    val e = intercept[Exception](CellLayout.read(spark, out).count())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    val name = gone.substring(gone.lastIndexOf('/') + 1)
    assert(messages.exists(_.contains(name)), messages.mkString("\n"))
  }

  // ---- write sizing: waves from the input's size estimate, hashed bucket waves ----

  private def waveTags(m: Map[Long, CellLayout.BucketMeta]) = m.values.map(_.wave).toSet

  test("a frame of unknown size (built from an RDD) still writes 4 waves") {
    val out = freshDir()
    val unknown = spark.createDataFrame(keyedPages.rdd, keyedPages.schema)
    val manifest = CellLayout.write(unknown, out, sfDir)
    assert(CellLayout.snapshotVersions(out) === (1 to 4))
    assert(waveTags(manifest) === Set(0, 1, 2, 3))
    assert(manifest.values.map(_.rows).sum === keyedPages.count())
  }

  test("an explicit waves = 4 writes 4 waves: the hash spreads Z2 bucket ids at res 2, 3 and 6 over all") {
    // Z2 ids carry their resolution in the low 5 bits: `bucket % waves`
    // would put every bucket of one resolution in a single wave
    for (res <- Seq(2, 3, 6)) {
      val out = freshDir()
      val keyed = CellLayout.withCellKeys(WebPages.pages(spark, sfDir).select("doc_id", "lon", "lat"),
        col("lon"), col("lat"), col("doc_id"), bucketRes = res)
      val manifest = CellLayout.write(keyed, out, sfDir, waves = 4)
      assert(manifest.keys.forall(graft.index.Z2.resOf(_) == res))
      assert(waveTags(manifest) === Set(0, 1, 2, 3), s"res $res")
      assert(CellLayout.snapshotVersions(out) === (1 to 4), s"res $res")
    }
  }

  test("an un-manifested bucket dir of a later wave is deleted before the first wave") {
    val tags = CellLayout.write(keyedPages, freshDir(), sfDir, waves = 4).map { case (b, m) => b -> m.wave }
    val out = freshDir()
    val partial = CellLayout.write(keyedPages, out, sfDir, waves = 4, maxWaves = 1)
    val last = tags.values.max
    val crashed = tags.collect { case (b, `last`) => b }.head
    assert(!partial.contains(crashed) && partial.values.forall(_.wave < last))
    keyedPages.filter(col("bucket") === crashed)
      .write.mode("append").partitionBy("bucket").parquet(out)
    val dir = java.nio.file.Paths.get(out, s"bucket=$crashed")
    assert(java.nio.file.Files.exists(dir))
    // this invocation commits one more wave, not the crashed bucket's
    val more = CellLayout.write(keyedPages, out, sfDir, waves = 4, maxWaves = 1)
    assert(more.size > partial.size && !more.contains(crashed))
    assert(!java.nio.file.Files.exists(dir), "the un-manifested dir must go before the first wave")
    val full = CellLayout.write(keyedPages, out, sfDir, waves = 4)
    assert(full(crashed).rows === keyedPages.filter(col("bucket") === crashed).count())
    assert(CellLayout.read(spark, out).count() === keyedPages.count())
  }

  test("rerunning the write on a complete table adds no snapshot and returns the same manifest") {
    val out = freshDir()
    val full = CellLayout.write(keyedPages, out, sfDir, waves = 4)
    val versions = CellLayout.snapshotVersions(out)
    Seq(0, 4).foreach { waves =>
      val again = CellLayout.write(keyedPages, out, sfDir, waves = waves)
      assert(again === full)
      assert(CellLayout.snapshotVersions(out) === versions)
    }
  }
}
