package graft.layout

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.functions.st
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

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
 *     _graft_manifest.json                  — the table's catalog: the read
 *                                             schema, and per bucket its
 *                                             files (relative path + bytes),
 *                                             lineage and row/byte metrics
 *     _graft_snapshots/v00001.json …        — immutable snapshot history
 *                                             (one per wave checkpoint);
 *                                             read(snapshot = Some(v))
 *                                             time-travels, Iceberg-style
 *
 * Reads plan from the manifest alone, as GeoMesa plans key ranges from
 * catalog metadata: no directory listing, no schema inference, no Spark
 * job. A reader sees committed buckets only — a directory that a killed
 * write appended but never checkpointed is invisible until the resume
 * replaces it.
 *
 * Rows inside each bucket are hash-partitioned on (bucket, salt) and sorted
 * by bucket, salt and the FULL cell key, so parquet row-group min/max stats
 * prune within a bucket the way sorted Accumulo tablets do.
 *
 * Resumability (north rule): the write runs in WAVES of buckets, one for
 * a small input and up to 4 by its size estimate; a bucket's wave is a hash
 * of its id. Each wave that wrote buckets appends them to the manifest
 * atomically (write-temp + rename). A resume first deletes un-manifested
 * bucket dirs, then writes only the rows of buckets missing from the
 * manifest — inputs are re-read, committed buckets never rewritten. A
 * resume whose frame's schema differs from the recorded one is refused
 * before any wave runs.
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

  /** One parquet file of a bucket: path relative to the table root. */
  case class DataFile(path: String, bytes: Long)

  case class BucketMeta(bucket: Long, rows: Long, bytes: Long, wave: Int,
                        inputPath: String, wallMs: Long, dataFiles: Seq[DataFile]) {
    def files: Int = dataFiles.size
  }

  /** A manifest version: the table's read schema and its committed buckets. */
  private case class Manifest(schema: StructType, buckets: Map[Long, BucketMeta])

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

  // ---- manifest I/O (json4s, on the classpath through Spark) ----

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
    loadManifest(outDir, snapshot).fold(Map.empty[Long, BucketMeta])(_.buckets)

  def readManifest(outDir: String): Map[Long, BucketMeta] = readManifest(outDir, None)

  /** The current manifest (None when the table has none yet), or snapshot v. */
  private def loadManifest(outDir: String, snapshot: Option[Int]): Option[Manifest] = {
    val p = snapshot match {
      case None => manifestPath(outDir)
      case Some(v) =>
        require(Files.exists(snapshotPath(outDir, v)), s"no snapshot v$v in $outDir")
        snapshotPath(outDir, v)
    }
    if (!Files.exists(p)) None
    else Some(parseManifest(new String(Files.readAllBytes(p), StandardCharsets.UTF_8), p.toString))
  }

  private def parseManifest(txt: String, at: String): Manifest = {
    def long(j: JValue): Long = j match {
      case JInt(v) => v.toLong
      case other => throw new IllegalStateException(s"$at: expected a number, found $other")
    }
    def str(j: JValue): String = j match {
      case JString(v) => v
      case other => throw new IllegalStateException(s"$at: expected a string, found $other")
    }
    JsonMethods.parse(txt) match {
      case o: JObject if (o \ "schema") != JNothing =>
        val schema = DataType.fromJson(JsonMethods.compact(o \ "schema")).asInstanceOf[StructType]
        Manifest(schema, (o \ "buckets").children.map { b =>
          val m = BucketMeta(long(b \ "bucket"), long(b \ "rows"), long(b \ "bytes"),
            long(b \ "wave").toInt, str(b \ "input"), long(b \ "wallMs"),
            (b \ "files").children.map(f => DataFile(str(f \ "path"), long(f \ "bytes"))))
          m.bucket -> m
        }.toMap)
      case _ => throw new IllegalStateException(
        s"$at predates the recorded schema and per-bucket file lists; rewrite the table")
    }
  }

  private def writeManifest(outDir: String, m: Manifest): Unit = {
    val buckets = m.buckets.values.toList.sortBy(_.bucket).map { b =>
      JObject("bucket" -> JLong(b.bucket), "rows" -> JLong(b.rows), "bytes" -> JLong(b.bytes),
        "wave" -> JLong(b.wave), "input" -> JString(b.inputPath), "wallMs" -> JLong(b.wallMs),
        "files" -> JArray(b.dataFiles.toList.map(f =>
          JObject("path" -> JString(f.path), "bytes" -> JLong(f.bytes)))))
    }
    val body = JsonMethods.compact(JObject(
      "schema" -> JsonMethods.parse(m.schema.json), "buckets" -> JArray(buckets)))
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

  // ---- schema ----

  private def partitionColumns(columns: Seq[String]): Seq[String] =
    if (columns.contains("day")) Seq("day", "bucket") else Seq("bucket")

  /** The schema a reader sees: the data columns as a parquet scan reports
    * them (nullable), then the partition columns typed as Spark's directory
    * inference types them (`day`, `bucket` int). */
  private def readSchema(df: StructType): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    val parts = partitionColumns(df.fieldNames.toSeq)
    StructType(df.fields.filterNot(f => parts.contains(f.name))
      .map(f => f.copy(dataType = nullable(f.dataType), nullable = true)) ++
      parts.map(StructField(_, IntegerType)))
  }

  /** Refuse to append files of another schema to a table: the first column
    * (by name) whose type differs or that one side lacks fails the write. */
  private def requireSameSchema(outDir: String, recorded: StructType, incoming: StructType): Unit = {
    val r = recorded.fields.map(f => f.name -> f.dataType).toMap
    val i = incoming.fields.map(f => f.name -> f.dataType).toMap
    def show(t: Option[DataType]) = t.fold("absent")(_.simpleString)
    (recorded.fieldNames ++ incoming.fieldNames).distinct.find(n => r.get(n) != i.get(n)).foreach { n =>
      throw new IllegalArgumentException(s"schema drift: column `$n` is ${show(r.get(n))} in " +
        s"$outDir but ${show(i.get(n))} in the frame being written; write to a new directory")
    }
  }

  /**
   * Checkpointed cell-partitioned write. Returns the manifest. Its shape
   * comes from the frame's optimizer size estimate (no job): `waves = 0`
   * takes the fewest waves, at most 4, of which each fills one round of
   * advisory-size tasks (`spark.sql.adaptive.advisoryPartitionSizeInBytes`)
   * on every core; a wave shuffles into one task per advisory size of its
   * share, at most `spark.sql.shuffle.partitions`. An unknown size (a leaf
   * at `spark.sql.defaultSizeInBytes`) takes 4 waves and AQE's task counts.
   * A bucket's wave is a hash of its id: no job discovers the buckets.
   * `maxWaves` bounds how many waves commit in THIS invocation (test hook
   * for kill/resume). A null `bucket` fails the wave's own write job.
   */
  def write(df: DataFrame, outDir: String, inputPath: String,
            waves: Int = 0, maxWaves: Int = Int.MaxValue): Map[Long, BucketMeta] = {
    require(waves >= 0, s"waves must be >= 0 (0 derives it from the input size), got $waves")
    require(Seq("cell", "bucket", "salt").forall(df.columns.contains), "call withCellKeys first")
    val spark = df.sparkSession
    val hadoopConf = spark.sessionState.newHadoopConf()
    val schema = readSchema(df.schema)
    val prior = loadManifest(outDir, None)
    prior.foreach(m => requireSameSchema(outDir, m.schema, schema))
    var manifest = prior.fold(Map.empty[Long, BucketMeta])(_.buckets)
    // crash-window cleanup (idempotent resume): a run killed between a
    // parquet append and its checkpoint left bucket dirs that re-writing
    // would duplicate; no wave writes a manifested bucket, so all others go
    deleteBucketDirs(outDir, keep = manifest.keySet)
    val conf = spark.sessionState.conf
    val plan = df.queryExecution.optimizedPlan
    val size = Some(plan.stats.sizeInBytes)
      .filterNot(_ => plan.collectLeaves().exists(_.stats.sizeInBytes >= conf.defaultSizeInBytes))
    val advisory = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    def ceilClamp(bytes: BigInt, per: BigInt, hi: Int): Int = ((bytes + per - 1) / per).max(1).min(hi).toInt
    val n = if (waves > 0) waves else size.fold(4)(ceilClamp(_, advisory * spark.sparkContext.defaultParallelism, 4))
    val tasks = size.map(s => ceilClamp(s, advisory * n, conf.numShufflePartitions))
    val keyed = df.withColumn("bucket", when(col("bucket").isNull, raise_error(lit(
      "CellLayout.write: null `bucket` — withCellKeys received a null lon/lat"))).otherwise(col("bucket")))
    val root = Paths.get(outDir)
    val bucketDir = "bucket=(\\d+)/".r
    val waveOf = if (n > 1) pmod(hash(col("bucket")), lit(n)) else lit(0) // one wave: no filter
    var committed = 0
    Iterator.range(0, n).takeWhile(_ => committed < maxWaves).foreach { w =>
      // wave w: its buckets' rows that the manifest lacks
      val pending = keyed.filter(waveOf === w && !col("bucket").isin(manifest.keys.toSeq: _*))
      val t0 = System.nanoTime()
      // hash-partition on (bucket, salt): a hot bucket spreads over `salts`
      // tasks; the sort gives row-group min/max locality on `cell`
      tasks.fold(pending.repartition(col("bucket"), col("salt")))(pending.repartition(_, col("bucket"), col("salt")))
        .sortWithinPartitions("bucket", "salt", "cell")
        .write.mode("append").partitionBy(partitionColumns(df.columns.toSeq): _*).parquet(outDir)
      val wallMs = (System.nanoTime() - t0) / 1000000
      // this wave's buckets are the un-manifested bucket dirs on disk (ONE
      // walk; they may nest under day=…), their rows the record counts in
      // their parquet footers (lineage: input → bucket): no scan of the output
      val fresh = tree(root).filter(_.getFileName.toString.endsWith(".parquet"))
        .flatMap(f => bucketDir.findFirstMatchIn(f.toString).map(_.group(1).toLong -> f))
        .groupBy(_._1).collect { case (b, fs) if !manifest.contains(b) => b -> fs.map(_._2).sortBy(_.toString) }
      fresh.foreach { case (b, files) =>
        val dataFiles = files.map(f => DataFile(root.relativize(f).toString, Files.size(f))).toSeq
        val rows = files.map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toString), hadoopConf))
          try r.getRecordCount finally r.close()
        }.sum
        manifest += b -> BucketMeta(b, rows, dataFiles.map(_.bytes).sum, w, inputPath, wallMs, dataFiles)
      }
      if (fresh.nonEmpty) { // atomic checkpoint after each wave that wrote buckets
        writeManifest(outDir, Manifest(schema, manifest))
        committed += 1
      }
    }
    manifest
  }

  /** Delete every `bucket=` partition dir (possibly nested under day=…)
    * whose bucket is not in `keep` — the resume-time cleanup of
    * un-manifested output. */
  private def deleteBucketDirs(outDir: String, keep: Set[Long]): Unit = {
    val root = Paths.get(outDir)
    val kept = keep.map(b => s"bucket=$b")
    if (Files.exists(root)) tree(root).filter { p =>
      val name = p.getFileName.toString
      Files.isDirectory(p) && name.startsWith("bucket=") && !kept.contains(name)
    }.foreach(d => tree(d).sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_)))
  }

  /** Every path under `p`, `p` included. */
  private def tree(p: java.nio.file.Path): Array[java.nio.file.Path] = {
    val walk = Files.walk(p)
    try walk.toArray.map(_.asInstanceOf[java.nio.file.Path]) finally walk.close()
  }

  /** Read a cell table back from its manifest: the scan gets the recorded
    * schema and the files of the manifest's buckets — with a `queryBox`,
    * only the buckets its coarse cover hits (partition pruning ≙ Accumulo
    * ranges). `snapshot` time-travels to an earlier manifest version:
    * buckets are append-once, so that version's files reconstruct its state
    * exactly — Iceberg-style snapshot isolation without rewriting data.
    * Planning lists nothing and runs no Spark job at any file count. */
  def read(spark: SparkSession, outDir: String,
           queryBox: Option[(Double, Double, Double, Double)] = None,
           dayRange: Option[(Long, Long)] = None,
           snapshot: Option[Int] = None): DataFrame = {
    val manifest = loadManifest(outDir, snapshot)
      .getOrElse(throw new IllegalArgumentException(s"no layout manifest in $outDir"))
    // the written bucket resolution rides inside the packed ids — read it
    // from the manifest so tables written at a coarser bucketRes (small
    // tables, tests) prune correctly without out-of-band metadata
    val bucketRes = manifest.buckets.keysIterator
      .map(graft.index.Z2.resOf).nextOption().getOrElse(BucketRes)
    val cover = queryBox.map { case (x0, y0, x1, y1) => graft.index.Z2.coverBBox(x0, y0, x1, y1, bucketRes) }
    val metas = cover.fold(manifest.buckets.values.toSeq)(_.toSeq.flatMap(manifest.buckets.get))
    val df0 = spark.baseRelationToDataFrame(relation(spark, outDir, manifest.schema, metas))
    val df = dayRange match {
      case Some((d0, d1)) if df0.columns.contains("day") =>
        df0.filter(col("day") >= d0 && col("day") <= d1)
      case _ => df0
    }
    val pruned = (queryBox, cover) match {
      case (Some((x0, y0, x1, y1)), Some(cells)) =>
        // filter the RAW partition column (int-typed, as directory inference
        // types it) so the predicate stays a PartitionFilter — filtering
        // through a cast can defeat directory pruning
        val buckets = cells.toSeq.map(_.toInt)
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
        df.filter(col("bucket").isin(buckets: _*)).filter(rangeFilter)
      case _ => df
    }
    pruned.withColumn("bucket", col("bucket").cast("long"))
  }

  /** A parquet relation over the given buckets' manifest files: one
    * partition directory per bucket dir, its values parsed from the
    * `name=value` segments of the recorded relative paths. */
  private def relation(spark: SparkSession, outDir: String, schema: StructType,
                       metas: Seq[BucketMeta]): HadoopFsRelation = {
    val partNames = partitionColumns(schema.fieldNames.toSeq)
    val parts = StructType(schema.filter(f => partNames.contains(f.name)))
    val root = new Path(Paths.get(outDir).toAbsolutePath.toUri)
    val dirs = metas.flatMap(_.dataFiles).groupBy(f => f.path.substring(0, f.path.lastIndexOf('/')))
      .toSeq.sortBy(_._1).map { case (dir, files) =>
        val kv = dir.split('/').map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
        val values = parts.fieldNames.map { n =>
          val v = kv.getOrElse(n, throw new IllegalStateException(s"$outDir/$dir has no `$n=` segment"))
          if (v == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else Int.box(v.toInt)
        }
        PartitionDirectory(InternalRow.fromSeq(values.toSeq), files.map(f =>
          new FileStatus(f.bytes, false, 0, 1, 0, new Path(root, f.path))).toArray)
      }
    HadoopFsRelation(new ManifestFileIndex(root, parts, dirs), parts,
      StructType(schema.filterNot(f => partNames.contains(f.name))),
      None, new ParquetFileFormat, Map.empty)(spark)
  }

  /** The files of a manifest read, handed to Spark as they are — the way
    * Delta and Iceberg hand over theirs: no listing, and so no parallel
    * listing job past `parallelPartitionDiscovery.threshold` paths.
    * Partition filters prune the directories here, as Spark's own
    * partition-aware index does. */
  private class ManifestFileIndex(root: Path, val partitionSchema: StructType,
                                  dirs: Seq[PartitionDirectory]) extends FileIndex {
    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      partitionFilters.reduceOption(And) match {
        case None => dirs
        case Some(f) =>
          val keep = Predicate.createInterpreted(f.transform { case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
          dirs.filter(d => keep.eval(d.values))
      }
    override def inputFiles: Array[String] = dirs.flatMap(_.files.map(_.getPath.toString)).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = dirs.flatMap(_.files.map(_.getLen)).sum
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
