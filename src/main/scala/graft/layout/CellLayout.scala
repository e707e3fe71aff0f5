package graft.layout

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.functions.st
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Physical layout + checkpointed write path — the Spark-native analog of the
 * reference's sorted-key table design (row = shard ~ geohash-prefix ~ date,
 * geomesa-core/.../data/AccumuloDataStore.scala:100-111) re-expressed as a
 * parquet table (Iceberg stand-in; no Iceberg jars in this environment):
 *
 *   out/
 *     bucket=<coarse cell>/part-*.parquet   — directory partition = coarse
 *                                             Z2 cell (partition pruning =
 *                                             Accumulo range pruning)
 *     _graft_manifest.json                  — snapshot manifest: per-bucket
 *                                             lineage + row/byte metrics
 *     _graft_snapshots/v00001.json …        — immutable snapshot history
 *                                             (one per wave checkpoint);
 *                                             read(snapshot = Some(v))
 *                                             time-travels, Iceberg-style
 *
 * Rows inside each bucket are range-partitioned and sorted by the FULL cell
 * key + salt, so parquet row-group min/max stats prune within a bucket the
 * way sorted Accumulo tablets do.
 *
 * Resumability (north rule): the write runs in WAVES of buckets; each
 * completed wave appends its buckets to the manifest atomically
 * (write-temp + rename). A killed job resumes by re-running only the
 * buckets missing from the manifest — inputs are re-read but completed
 * output buckets are never rewritten.
 */
object CellLayout {

  /** Default coarse directory-partition resolution (4096 world buckets
    * max) — size it so buckets hold GBs, not KBs: the bucket count should
    * track the DATA size (the reference's shard count is a layout knob,
    * AccumuloDataStore.scala:100-111), so small tables pass a coarser
    * `bucketRes` to [[withCellKeys]] and reads infer the written
    * resolution from the manifest. */
  val BucketRes = 6
  /** Fine sort-key resolution within files. */
  val SortRes = 14

  case class BucketMeta(bucket: Long, rows: Long, bytes: Long, files: Int,
                        wave: Int, inputPath: String, wallMs: Long)

  /** Projection: add `cell` (fine Z2 key), `bucket` (coarse ancestor) and
    * `salt` (hot-cell spreader: stable per-row hash mod `salts`). */
  def withCellKeys(df: DataFrame, lon: Column, lat: Column, idCol: Column,
                   salts: Int = 8, bucketRes: Int = BucketRes): DataFrame =
    df.withColumn("cell", st.z2Encode(lon, lat, lit(SortRes)))
      .withColumn("bucket", st.cellParent(col("cell"), lit(bucketRes)))
      .withColumn("salt", pmod(hash(idCol), lit(salts)))

  /** Space × time keys: adds a `day` partition column from epoch seconds —
    * the full reference key shape (shard ~ geohash ~ yyyyMMddHH tier,
    * AccumuloDataStore.scala:100-111; date planning QueryPlanners.scala:
    * 426-496 maps to partition pruning on `day`). */
  def withSpaceTimeKeys(df: DataFrame, lon: Column, lat: Column, epochSec: Column,
                        idCol: Column, salts: Int = 8): DataFrame =
    withCellKeys(df, lon, lat, idCol, salts)
      .withColumn("day", (epochSec / lit(86400L)).cast("long"))

  // ---- manifest I/O (tiny hand-rolled JSON; no extra deps) ----

  private def manifestPath(outDir: String) = Paths.get(outDir, "_graft_manifest.json")
  private def snapshotDir(outDir: String) = Paths.get(outDir, "_graft_snapshots")
  private def snapshotPath(outDir: String, v: Int) =
    snapshotDir(outDir).resolve(f"v$v%05d.json")

  /** Snapshot versions on disk, ascending (Iceberg-style history: every
    * wave checkpoint appends an immutable snapshot file; the un-versioned
    * manifest is the current-snapshot pointer). */
  def snapshotVersions(outDir: String): Seq[Int] = {
    val d = snapshotDir(outDir)
    if (!Files.exists(d)) return Seq.empty
    val walk = Files.list(d)
    try walk.toArray.map(_.toString)
      .flatMap("""v(\d+)\.json$""".r.findFirstMatchIn(_).map(_.group(1).toInt))
      .sorted.toSeq
    finally walk.close()
  }

  /** Manifest as of a snapshot version (time travel): buckets are written
    * once and never rewritten after their manifest entry commits, so the
    * bucket set of snapshot v reconstructs that state exactly. */
  def readManifest(outDir: String, snapshot: Option[Int]): Map[Long, BucketMeta] =
    snapshot match {
      case None => readManifest(outDir)
      case Some(v) =>
        require(Files.exists(snapshotPath(outDir, v)), s"no snapshot v$v in $outDir")
        parseManifest(new String(Files.readAllBytes(snapshotPath(outDir, v)), StandardCharsets.UTF_8))
    }

  def readManifest(outDir: String): Map[Long, BucketMeta] = {
    val p = manifestPath(outDir)
    if (!Files.exists(p)) return Map.empty
    parseManifest(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  private def parseManifest(txt: String): Map[Long, BucketMeta] = {
    // lines of: {"bucket":1,"rows":2,"bytes":3,"files":1,"wave":0,"input":"...","wallMs":5}
    txt.linesIterator.filter(_.contains("\"bucket\"")).map { line =>
      def lng(k: String): Long =
        s""""$k":(-?\\d+)""".r.findFirstMatchIn(line).map(_.group(1).toLong).getOrElse(0L)
      def str(k: String): String =
        s""""$k":"([^"]*)"""".r.findFirstMatchIn(line).map(_.group(1)).getOrElse("")
      val m = BucketMeta(lng("bucket"), lng("rows"), lng("bytes"), lng("files").toInt,
        lng("wave").toInt, str("input"), lng("wallMs"))
      m.bucket -> m
    }.toMap
  }

  private def writeManifest(outDir: String, metas: Map[Long, BucketMeta]): Unit = {
    val body = metas.values.toSeq.sortBy(_.bucket).map { m =>
      s"""{"bucket":${m.bucket},"rows":${m.rows},"bytes":${m.bytes},"files":${m.files},"wave":${m.wave},"input":"${m.inputPath}","wallMs":${m.wallMs}}"""
    }.mkString("[\n", ",\n", "\n]")
    val tmp = Paths.get(outDir, "_graft_manifest.json.tmp")
    Files.createDirectories(Paths.get(outDir))
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    // snapshot BEFORE the pointer move: a crash between the two leaves an
    // extra snapshot file whose state the pointer catches up to on the next
    // checkpoint — readers of the pointer never see a torn state
    val v = snapshotVersions(outDir).lastOption.getOrElse(0) + 1
    Files.createDirectories(snapshotDir(outDir))
    Files.write(snapshotPath(outDir, v), body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(outDir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /**
   * Checkpointed cell-partitioned write. Returns the manifest. `maxWaves`
   * bounds how many waves run in THIS invocation (test hook for kill/resume;
   * production leaves it at Int.MaxValue). A wave's manifest rows are the
   * record counts in the footers of the parquet files it just wrote, read
   * with the session's Hadoop conf: the output is never scanned back.
   */
  def write(df: DataFrame, outDir: String, inputPath: String,
            waves: Int = 4, maxWaves: Int = Int.MaxValue): Map[Long, BucketMeta] = {
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    require(Seq("cell", "bucket", "salt").forall(df.columns.contains),
      "call withCellKeys first")

    val done = readManifest(outDir)
    val allBuckets = df.select("bucket").distinct().collect().map(_.getLong(0)).sorted
    val pending = allBuckets.filterNot(done.contains)
    if (pending.isEmpty) return done

    val waveOf = pending.zipWithIndex.map { case (b, i) => b -> i % waves }.toMap
    val waveIds = waveOf.values.toSeq.distinct.sorted.take(maxWaves)

    var manifest = done
    waveIds.foreach { w =>
      val bs = waveOf.collect { case (b, `w`) => b }.toSeq
      // crash-window cleanup (idempotent resume): a prior run killed AFTER
      // the parquet append but BEFORE the manifest checkpoint left these
      // buckets on disk without a manifest entry — re-running would append
      // a second copy (silent duplicates). Any bucket dir pending in this
      // wave is, by definition, not in the manifest: delete before writing.
      deleteBucketDirs(outDir, bs)
      val t0 = System.nanoTime()
      val wave = df.filter(col("bucket").isin(bs: _*))
        // range-partition on (bucket, salt, cell): hot buckets spread over
        // `salts` tasks, rows arrive sorted for row-group min/max locality
        .repartitionByRange(col("bucket"), col("salt"), col("cell"))
        .sortWithinPartitions("bucket", "salt", "cell")
      val partCols = if (df.columns.contains("day")) Seq("day", "bucket") else Seq("bucket")
      wave.write.mode("append").partitionBy(partCols: _*).parquet(outDir)
      val wallMs = (System.nanoTime() - t0) / 1000000

      // per-bucket metrics from the written files (lineage: input → bucket)
      // ONE walk per wave (bucket dirs may nest under day=… partitions):
      // group the parquet files by their bucket dir — a per-bucket walk
      // would be O(buckets × files) driver-side at cluster bucket counts
      val byBucket: Map[Long, Array[String]] = {
        val walk = Files.walk(Paths.get(outDir))
        val files = try walk.toArray.map(_.toString).filter(_.endsWith(".parquet"))
        finally walk.close()
        val pat = java.util.regex.Pattern.compile("bucket=(\\d+)/")
        files.flatMap { f =>
          val m = pat.matcher(f)
          if (m.find()) Some(m.group(1).toLong -> f) else None
        }.groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2) }
      }
      bs.foreach { b =>
        val files = byBucket.getOrElse(b, Array.empty)
        val bytes = files.map(f => Files.size(Paths.get(f))).sum
        val rows = files.map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), hadoopConf))
          try r.getRecordCount finally r.close()
        }.sum
        manifest += b -> BucketMeta(b, rows, bytes, files.length, w, inputPath, wallMs)
      }
      writeManifest(outDir, manifest) // atomic checkpoint after each wave
    }
    manifest
  }

  /** Delete every `bucket=<b>` partition dir (possibly nested under day=…)
    * for the given buckets — the resume-time cleanup of un-manifested
    * output. */
  private def deleteBucketDirs(outDir: String, buckets: Seq[Long]): Unit = {
    val root = Paths.get(outDir)
    if (!Files.exists(root)) return
    val names = buckets.map(b => s"bucket=$b").toSet
    val walk = Files.walk(root)
    val dirs = try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isDirectory(p) && names.contains(p.getFileName.toString))
    finally walk.close()
    dirs.foreach { d =>
      val all = Files.walk(d)
      try all.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      finally all.close()
    }
  }

  /** Read a cell table back; `queryBox` prunes directory partitions via the
    * coarse bucket cover (partition pruning ≙ Accumulo ranges). `snapshot`
    * time-travels to an earlier manifest version: buckets are append-once,
    * so restricting the scan to the snapshot's bucket set (a partition
    * filter) reconstructs that state exactly — Iceberg-style snapshot
    * isolation without rewriting data. */
  def read(spark: SparkSession, outDir: String,
           queryBox: Option[(Double, Double, Double, Double)] = None,
           dayRange: Option[(Long, Long)] = None,
           snapshot: Option[Int] = None): DataFrame = {
    val manifest = readManifest(outDir, snapshot)
    val df0 = spark.read.parquet(outDir)
    val snapped = snapshot match {
      // raw int-typed partition column keeps this a PartitionFilter
      case Some(_) => df0.filter(col("bucket").isin(manifest.keysIterator.map(_.toInt).toSeq: _*))
      case None => df0
    }
    val df = dayRange match {
      case Some((d0, d1)) if snapped.columns.contains("day") =>
        snapped.filter(col("day") >= d0 && col("day") <= d1)
      case _ => snapped
    }
    // the written bucket resolution rides inside the packed ids — read it
    // from the manifest so tables written at a coarser bucketRes (small
    // tables, tests) prune correctly without out-of-band metadata
    val bucketRes = manifest.keysIterator
      .map(graft.index.Z2.resOf).nextOption().getOrElse(BucketRes)
    val pruned = queryBox match {
      case Some((x0, y0, x1, y1)) =>
        // filter the RAW partition column (int-typed from dir inference) so
        // the predicate stays a PartitionFilter — filtering through a cast
        // can defeat directory pruning
        val cover = graft.index.Z2.coverBBox(x0, y0, x1, y1, bucketRes).map(_.toInt)
        // fine-cell range conjuncts on the SORTED in-file key: the bbox
        // cover at a finer resolution expands to `cell BETWEEN` ranges that
        // parquet row-group min/max stats prune INSIDE hot buckets — the
        // read-side payoff of the write-time sort (reference precedent:
        // STIdxStrategy plans ranges over sorted keys, not just tablets).
        // Range count bounded by the cover budget; still a superset of the
        // box (callers refine exactly, as with bucket pruning).
        val rangeRes = graft.index.Z2.chooseRes(x0, y0, x1, y1, budget = 64,
          levels = Array(bucketRes, bucketRes + 2, bucketRes + 4))
        val ranges = graft.index.Z2.coverRanges(x0, y0, x1, y1, rangeRes, SortRes)
        val rangeFilter = ranges.map { case (lo, hi) =>
          col("cell") >= lo && col("cell") <= hi
        }.reduce(_ || _)
        df.filter(col("bucket").isin(cover: _*)).filter(rangeFilter)
      case None => df
    }
    pruned.withColumn("bucket", col("bucket").cast("long"))
  }

  /**
   * Spark-bucketed catalog table keyed on the coarse cell: every table
   * written this way hash-buckets rows by `bucket` into `numBuckets` files
   * with an in-file sort on the fine cell key. Cell equi-joins BETWEEN two
   * such tables (or self-joins) are co-located — Catalyst plans a
   * SortMergeJoin with NO shuffle exchange on either side, which is the
   * cluster-scale answer to "the same spatial join runs every day": pay
   * the partitioning once at write, never again at read
   * (the reference's analog: both tables pre-sorted by the same key
   * layout in Accumulo, AccumuloDataStore.scala:100-111).
   */
  def writeBucketedTable(df: DataFrame, tableName: String, numBuckets: Int = 64): Unit = {
    require(df.columns.contains("bucket") && df.columns.contains("cell"),
      "call withCellKeys first")
    df.write.format("parquet")
      .bucketBy(numBuckets, "bucket").sortBy("bucket", "cell")
      .mode("overwrite").saveAsTable(tableName)
  }

  /**
   * Hot cells from the manifest's per-bucket row counts — the PRODUCTION
   * source for [[graft.ops.SpatialJoin.polygonsWithPoints]]'s
   * `knownHotCells`: no sampling job, the skew statistics were paid for
   * once at write time (the cost-model role of the reference's cardinality
   * metadata, QueryStrategyDecider.scala:31-110).
   *
   * Hot ids are emitted at EVERY requested ladder level: ancestors of a
   * hot bucket are hot by containment; for levels FINER than BucketRes all
   * descendants are emitted conservatively (a cold child of a hot bucket
   * gets salted needlessly — benign, a few extra build-side replicas —
   * while missing a hot child would leave the skew unsplit), capped at 3
   * levels below BucketRes (64 children/bucket) so the broadcast hot list
   * stays small. Levels beyond the cap are omitted — the join's sampling
   * fallback covers them.
   */
  def hotCellsFromManifest(outDir: String, minRows: Long,
                           levels: Array[Int] = graft.ops.SpatialJoin.DefaultLevels): Array[Long] = {
    val hot = readManifest(outDir).values.filter(_.rows > minRows).map(_.bucket).toSeq
    // bucket ids carry their own resolution (packed), so a table written at
    // a non-default bucketRes expands correctly
    levels.toSeq.flatMap { r =>
      hot.flatMap { b =>
        val bRes = graft.index.Z2.resOf(b)
        if (r <= bRes) Seq(graft.index.Z2.parent(b, r))
        else if (r <= bRes + 3) {
          val shift = 2 * (r - bRes)
          val base = graft.index.Z2.zOf(b) << shift
          (0L until (1L << shift)).map(q => graft.index.Z2.pack(base | q, r))
        } else Seq.empty[Long]
      }
    }.distinct.toArray
  }

  /** Count estimate from the manifest — no scan (reference A6: record-table
    * entry count as the estimate, AccumuloFeatureSource.scala:57-80);
    * `snapshot` estimates the count as of that version. */
  def countEstimate(outDir: String, snapshot: Option[Int] = None): Long =
    readManifest(outDir, snapshot).values.map(_.rows).sum

  /** Spatial bounds estimate from bucket cell ids — no scan (reference A7:
    * catalog-metadata bounds, data/package.scala:48-49). */
  def boundsEstimate(outDir: String, snapshot: Option[Int] = None): Option[(Double, Double, Double, Double)] = {
    val buckets = readManifest(outDir, snapshot).keySet
    if (buckets.isEmpty) None
    else Some(buckets.map(graft.index.Z2.bounds).foldLeft((180.0, 90.0, -180.0, -90.0)) {
      case ((x0, y0, x1, y1), (bx0, by0, bx1, by1)) =>
        (math.min(x0, bx0), math.min(y0, by0), math.max(x1, bx1), math.max(y1, by1))
    })
  }
}
