package graft.ops

import graft.functions.{TextRT, tx}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/**
 * Deduplication operators for web-scale text corpora. Exact dedup is a
 * hash group-by; near-dup is shingle→MinHash→LSH-band→bucket→exact
 * Jaccard verify — shuffle-on-key plans that scale horizontally (the
 * candidate keys are the LSH buckets, never a cross join).
 *
 * Both near-dup operators collapse exact-duplicate texts to ONE
 * representative per group BEFORE candidate generation (one group-by on the
 * 16-byte content hash): a web corpus's >maxBucket cluster of
 * byte-identical boilerplate pages (404s, templates) would otherwise
 * oversize EVERY band bucket it touches and be silently dropped by the cap.
 * Verified pairs between representatives expand back to all member pairs,
 * plus the within-group pairs (exact duplicates by construction).
 *
 * Each operator forks on the corpus size ([[isBig]]). A small corpus takes
 * ONE band exchange ([[bucketPairs]]): each band bucket verifies and expands
 * its own pairs where it lands, so the plan is three exchanges (collapse,
 * bands, pair dedupe) and materializes nothing. A big corpus keeps the
 * slim-shuffle shape — (band, id) rows through a band self-join, payloads
 * re-attached and groups expanded by equi-joins — and materializes its
 * compact per-doc frames per [[compactFrame]]'s policy. [[clusters]] forks
 * on its edge count instead.
 */
object Dedup {

  /** Inputs whose optimizer-estimated size is below this take the small
    * path: one band exchange, nothing materialized. */
  val SmallCorpusBytes: Long = 64L * 1024 * 1024

  /** Candidate graphs of at most this many edges (16 MB of long id pairs)
    * finish [[clusters]] on the driver. */
  val DriverEdges: Int = 1 << 20

  /** True when the plan's estimated size crosses [[SmallCorpusBytes]];
    * unknown-size sentinels (LocalRelation, post-join frames) count as big —
    * the safe direction, matching pre-r4 behavior. */
  private def isBig(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(SmallCorpusBytes)

  /** Materialize a compact derived frame of the big path, whose DAG fans
    * out, by a lazy PERSIST: the columnar cache stores
    * compressed batches, so fan-out branches on other executors fetch
    * compact column bytes — an eager `localCheckpoint` stores raw row
    * objects whose remote reads pay full per-row deserialization, measured
    * to HALVE the 1→4-executor scaling efficiency of the whole pipeline
    * (0.47 vs ~0.9 for every sub-stage; BENCH/CLUSTER.md r4). With a
    * reliable checkpoint dir set (`sparkContext.setCheckpointDir`) it is an
    * eager RELIABLE `checkpoint` instead: lineage-free and
    * executor-loss-safe, right for long multi-hour runs. Blocks are freed
    * by the ContextCleaner when the frames are GC'd. */
  private def compactFrame(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.persist()

  /** Exact duplicate groups by content hash: (text_hash, keeper_id, n). */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(md5(text).as("text_hash"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n"))

  /** Rows surviving exact dedup (keep min-id row per distinct text). */
  def exactSurvivors(df: DataFrame, textName: String, idName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textName))).orderBy(col(idName).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * MinHash+LSH near-duplicate candidate pairs, verified by exact n-gram
   * Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b and
   * jaccard >= threshold. numHashes=32, 8 bands x 4 rows targets ~0.6+
   * similarity candidates. Guards against degenerate buckets:
   *  1. docs with fewer than `shingle` tokens have no shingle set, hence no
   *     meaningful Jaccard — excluded entirely (exact-dedup territory);
   *  2. exact-duplicate texts occupy ONE band slot via the rep collapse;
   *  3. any band bucket still holding more than `maxBucket` DISTINCT texts
   *     is dropped from candidate generation.
   *
   * Small corpora: [[bucketPairs]] scores pairs by [[TextRT.sortedJaccard]]
   * over each distinct text's shingle-hash set — the big path's value.
   *
   * Big corpora: signatures are computed where the text lives (text never
   * shuffles) and the band shuffle that feeds the self-join carries only
   * (band:long, rid:long) rows — the r2 shape that grouped after the band
   * explode shuffled ~2× the bytes and ran shuffle-volume-bound at 0.47
   * scaling efficiency. The bucket guard is a broadcast ANTI join against
   * the (near-empty) hot-band set, so the self-join hash-joins the
   * unsorted band frame.
   */
  def minhashPairs(df: DataFrame, textName: String, idName: String,
                   numHashes: Int = 32, rowsPerBand: Int = 4, shingle: Int = 3,
                   threshold: Double = 0.6, maxBucket: Long = 10000L): DataFrame =
    minhashPairs(df, textName, idName, numHashes, rowsPerBand, shingle, threshold, maxBucket, isBig(df))

  /** [[minhashPairs]] with the size class as an argument (`big` runs the
    * big path), so a test runs both paths on one corpus. */
  private[graft] def minhashPairs(df: DataFrame, textName: String, idName: String,
                                  numHashes: Int, rowsPerBand: Int, shingle: Int,
                                  threshold: Double, maxBucket: Long, big: Boolean): DataFrame = {
    if (!big) {
      // the signature is used twice, so Catalyst keeps it in its own
      // projection (computed once); sub-shingle texts get null bands and
      // drop out of the band explode
      val reps = textGroups(df, textName, idName)
        .select(col("rid"), col("__ids"),
          tx.shingleHashes(col("__t"), lit(shingle)).as("__p"),
          tx.minhash(col("__t"), lit(numHashes), lit(shingle)).as("__sig"))
        .select(col("rid"), col("__ids"), col("__p"),
          when(element_at(col("__sig"), 1) =!= lit(Long.MaxValue),
            tx.lshBands(col("__sig"), lit(rowsPerBand))).as("__keys"))
      return bucketPairs(reps, maxBucket, StructField("jaccard", DoubleType), 1.0,
          _.getSeq[Long](4).toArray) { (a, b) =>
        val j = TextRT.sortedJaccard(a, b)
        if (j >= threshold) Some(j) else None
      }
    }
    val h = unhex(md5(col(textName).cast("binary"))) // 16-byte key, not hex string
    // ONE pass over the corpus computes everything per-doc (16-byte content
    // hash + 8 band keys ≈ 90 B/row, ~0.1% of the text bytes), materialized
    // per the object-doc policy: the pipeline's DAG fans out into several
    // branches (banding, group sizes, expansion), and every branch — plus
    // every broadcast build — would otherwise re-scan the corpus and
    // re-hash every document (measured: 4-5 full corpus passes)
    val base = compactFrame(
      df.select(col(idName).as("id"), h.as("__h"),
          tx.minhash(col(textName), lit(numHashes), lit(shingle)).as("__sig"))
        .select(col("id"), col("__h"),
          when(element_at(col("__sig"), 1) =!= lit(Long.MaxValue),
            tx.lshBands(col("__sig"), lit(rowsPerBand))).as("__bands")))
    val members = base.select("id", "__h")
    // identical texts have identical signatures hence identical bands, so
    // any group member's BAND ARRAY represents the group; sub-shingle docs
    // (null bands — no shingle set, exact-dedup territory) never band
    val banded = base.filter(col("__bands").isNotNull)
    // min(struct(...)) — NOT first(): first() is a non-deterministic
    // aggregate in Spark, which blocks exchange reuse, so the self-join
    // below would compute the whole sig→collapse→band subtree TWICE
    // (measured 2.5x wall on the full pipeline); min over the struct is
    // deterministic (id is unique) and keeps ReusedExchange eligible.
    val reps = banded.groupBy("__h")
      .agg(min(struct(col("id"), col("__bands"))).as("__m"))
      .select(col("__m.id").as("rid"), col("__m.__bands").as("__bands"))
    // the band shuffle (the pipeline's dominant exchange at scale — the hot
    // count AND both self-join sides repartition on `band`) carries ONLY
    // (band:long, rid:long): the 16-byte group hash is functionally
    // determined by rid and is re-attached AFTER candidate generation from
    // the compact cached frame — halving the exchange bytes vs shipping
    // __h through it (the r3 process-isolated scaling runs measured this
    // join shuffle-volume-bound)
    val bands = reps.select(col("rid"), explode(col("__bands")).as("band"))
    // bucket guard as a hot-band BROADCAST ANTI JOIN, not a window: the
    // window rode the band exchange but forced a full SORT of the
    // 8×-exploded band frame on every side; `> maxBucket` leaves a
    // near-empty hot set, so a partially-aggregated count (map-side
    // combine over the cached reps) costs one tiny shuffle and the
    // self-join below can then HASH-join the unsorted band frame — the
    // 32M-row sorts were a top-3 CPU stage of the 4M-doc pipeline
    val hot = bands.groupBy("band").agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") > maxBucket).select("band")
    val guarded = bands.join(broadcast(hot), Seq("band"), "left_anti")
    // both join inputs are the same subtree — the band exchange is
    // planned once and reused; SHUFFLE_HASH skips the per-side sorts
    val candidates = compactFrame(guarded.as("a").hint("shuffle_hash")
      .join(guarded.as("b"),
        col("a.band") === col("b.band") && col("a.rid") < col("b.rid"))
      .select(col("a.rid").as("rid_a"), col("b.rid").as("rid_b"))
      .dropDuplicates("rid_a", "rid_b"))
    // verify via PRE-SHINGLED sets: one corpus scan computes each
    // candidate doc's sorted shingle-hash array (the semi join filters
    // BEFORE the shingling projection, so only docs appearing in a
    // candidate pair pay it, each exactly once); scoring a pair is then
    // a linear merge of two sorted arrays. The per-pair ngram_jaccard
    // alternative re-tokenized both texts for EVERY pair — a doc in k
    // pairs paid the shingling k times, the pipeline's dominant CPU.
    val ids = candidates.select(col("rid_a").as("__tid"))
      .union(candidates.select(col("rid_b").as("__tid"))).distinct()
    val sh = df.select(col(idName).as("__tid"), col(textName).as("__tx"))
      .join(ids, Seq("__tid"), "left_semi")
      .select(col("__tid"), tx.shingleHashes(col("__tx"), lit(shingle)).as("__sh"))
    val repPairs = candidates
      .join(sh.select(col("__tid").as("rid_a"), col("__sh").as("__sha")), Seq("rid_a"))
      .join(sh.select(col("__tid").as("rid_b"), col("__sh").as("__shb")), Seq("rid_b"))
      .withColumn("jaccard", tx.sortedJaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard") >= threshold)
      .select(col("rid_a"), col("rid_b"), col("jaccard"))
    // multi-member groups come straight off the materialized compact frame
    // (group members are byte-identical, so any member's bandability flag
    // is the group's) — a 24-byte-row group-by over cached blocks, never a
    // second corpus pass
    val multiHashes = multiGroupHashes(
      base.select(col("__h"), col("__bands").isNotNull.as("__ok")))
    expandGroups(members, multiHashes, repPairs, "jaccard", lit(1.0))
  }

  /** SimHash near-dup pairs: bucket on rotated 16-bit blocks (any pair
   *  within hamming distance <= maxHamming shares at least one of the 4
   *  blocks by pigeonhole), verify hamming. Same collapse and size fork as
   *  [[minhashPairs]]: small corpora run [[bucketPairs]] on the signature;
   *  big ones guard the blocks with a windowed count and self-join them.
   *  sig == 0 (the no-token signature of empty/whitespace pages) is
   *  excluded. */
  def simhashPairs(df: DataFrame, textName: String, idName: String,
                   maxHamming: Int = 3, maxBucket: Long = 10000L): DataFrame =
    simhashPairs(df, textName, idName, maxHamming, maxBucket, isBig(df))

  /** [[simhashPairs]] with the size class as an argument, as for [[minhashPairs]]. */
  private[graft] def simhashPairs(df: DataFrame, textName: String, idName: String,
                                  maxHamming: Int, maxBucket: Long, big: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE scan emits all 4 rotated blocks per row (no 4-way self-union);
    // block key is a LONG — bits 0..15 the slice, bits 16..17 the slice
    // index (disjoint keyspace per block, no string concat in the shuffle)
    def blockKeys(sig: Column) = array((0 until 4).map { b =>
      shiftright(sig, b * 16).bitwiseAND(lit(0xffffL)).bitwiseOR(lit(b.toLong << 16))
    }: _*)
    if (!big) {
      val reps = textGroups(df, textName, idName)
        .select(col("rid"), col("__ids"), tx.simhash(col("__t")).as("__p"))
        .withColumn("__keys", when(col("__p") =!= 0L, blockKeys(col("__p"))))
      return bucketPairs(reps, maxBucket, StructField("hamming", IntegerType), 0,
          _.getLong(4)) { (a, b) =>
        val d = TextRT.hammingDist(a, b)
        if (d <= maxHamming) Some(d) else None
      }
    }
    val h = unhex(md5(col(textName).cast("binary"))) // 16-byte key, not hex string
    // one corpus pass, materialized per the object-doc policy (32 B/row) —
    // same rationale as minhashPairs: the DAG fans out and every
    // branch/broadcast build would re-scan and re-hash the corpus otherwise
    val base = compactFrame(
      df.select(col(idName).as("id"), h.as("__h"), tx.simhash(col(textName)).as("sig")))
    val members = base.select("id", "__h")
    val sigs = base.filter(col("sig") =!= 0L)
    // identical texts share the signature: collapse to one representative
    // per exact-text group BEFORE blocking (same shape as minhashPairs)
    // min(struct(...)) not first() — same exchange-reuse rationale as
    // minhashPairs (first() is non-deterministic and blocks reuse)
    val reps = sigs.groupBy("__h")
      .agg(min(struct(col("id"), col("sig"))).as("__m"))
      .select(col("__m.id").as("rid"), col("__m.sig").as("rsig"))
    // The block shuffle carries ONLY (block:long, rid:long) — the 16-byte
    // group hash and the 8-byte signature are functionally determined by
    // rid and re-attached after candidate generation (same shuffle-slimming
    // as minhashPairs; rid→rsig comes from the tiny `reps` frame, a
    // group-by over cached base blocks)
    val blocks = reps.select(col("rid"), explode(blockKeys(col("rsig"))).as("block"))
    val guarded = blocks
      .withColumn("__bc", count(lit(1)).over(Window.partitionBy("block")))
      .filter(col("__bc") <= maxBucket).drop("__bc")
    // one rep per group hash ⇒ (rid_a, rid_b) dedupe ≡ the old (ha, hb) one
    val candidates = guarded.as("a").join(guarded.as("b"),
        col("a.block") === col("b.block") && col("a.rid") < col("b.rid"))
      .select(col("a.rid").as("rid_a"), col("b.rid").as("rid_b"))
      .dropDuplicates("rid_a", "rid_b")
    val repPairs = candidates
      .join(reps.select(col("rid").as("rid_a"), col("rsig").as("sig_a")), Seq("rid_a"))
      .join(reps.select(col("rid").as("rid_b"), col("rsig").as("sig_b")), Seq("rid_b"))
      .withColumn("hamming", tx.hamming(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("rid_a", "rid_b", "hamming")
    val multiHashes = multiGroupHashes(
      base.select(col("__h"), (col("sig") =!= 0L).as("__ok")))
    expandGroups(members, multiHashes, repPairs, "hamming", lit(0))
  }

  /** The small path's exact-text collapse: one row per distinct content
    * hash with its text `__t`, its non-null member ids `__ids` and its
    * representative `rid` — the min id, nulls FIRST, as the big path's
    * min(struct) picks it. One exchange by hash into defaultParallelism
    * partitions spreads the per-text kernels that follow: a small corpus
    * is often one scan partition, and adaptive execution would coalesce a
    * plain group-by's output back into one task. */
  private def textGroups(df: DataFrame, textName: String, idName: String): DataFrame =
    df.select(col(idName).as("rid"), col(textName).as("__t"),
        unhex(md5(col(textName).cast("binary"))).as("__h"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("__h"))
      .groupBy("__h")
      .agg(min(struct(col("rid"), col("__t"))).as("__m"), collect_list(col("rid")).as("__ids"))
      .select(col("__m.rid").as("rid"), col("__ids"), col("__m.__t").as("__t"))

  /**
   * Near-duplicate pairs of a small corpus through ONE band exchange.
   * `reps` holds one row per distinct text: rid, __ids, a payload __p and
   * __keys, its bucket keys (null when the text cannot band). Rows explode
   * to (key index, key) and group by key; each bucket then
   *  - emits the within-group pairs of its texts (similarity `withinSim`)
   *    if its key index is 0, whatever its size: every text has exactly one
   *    index-0 key, so each such pair is emitted once;
   *  - buffers at most `maxBucket` texts: a bucket of more DISTINCT texts
   *    emits no cross pairs (the big path's guard) and memory stays bounded;
   *  - scores each buffered pair of texts and expands a `Some(similarity)`
   *    to all pairs of their member ids. A text whose rid is null pairs
   *    with no other text, as on the big path.
   * One `dropDuplicates` removes the pairs that meet in several buckets.
   * Returns (id_a, id_b, <sim>) with id_a < id_b in the ids' type.
   */
  private def bucketPairs[P](reps: DataFrame, maxBucket: Long, sim: StructField,
                             withinSim: Any, payload: Row => P)
                            (score: (P, P) => Option[Any]): DataFrame = {
    val idType = reps.schema("rid").dataType
    val pairType = StructType(Seq(StructField("a", idType), StructField("b", idType), sim))
    // posexplode_OUTER plus a filter on its output: Catalyst infers a
    // size(__keys) > 0 filter from a plain posexplode, pushes it below the
    // projection that runs the kernels and so ran every kernel twice or more
    reps.select(posexplode_outer(col("__keys")).as(Seq("__i", "__key")), col("rid"),
        col("__ids"), col("__p"))
      .filter(col("__key").isNotNull)
      .groupByKey((r: Row) => r.getLong(1))(Encoders.scalaLong)
      .flatMapGroups { (_: Long, rows: Iterator[Row]) =>
        val kept = scala.collection.mutable.ArrayBuffer.empty[(Array[Any], P)]
        var n = 0L
        val within = rows.flatMap { r =>
          val ids = r.getSeq[Any](3).toArray
          n += 1
          if (n > maxBucket) kept.clear()
          else if (!r.isNullAt(2)) kept += ((ids, payload(r)))
          if (r.getInt(0) != 0) Iterator.empty
          else ids.combinations(2).map(p => (p(0), p(1), withinSim))
        }
        // runs once `within` has consumed the bucket
        def cross = for {
          i <- kept.indices.iterator
          j <- (i + 1 until kept.length).iterator
          s <- score(kept(i)._2, kept(j)._2).iterator
          a <- kept(i)._1.iterator
          b <- kept(j)._1.iterator
        } yield (a, b, s)
        (within ++ cross).collect { case (a, b, s) if a != b => Row(a, b, s) }
      }(Encoders.row(pairType))
      .select(least(col("a"), col("b")).as("id_a"), greatest(col("a"), col("b")).as("id_b"),
        col(sim.name))
      .dropDuplicates("id_a", "id_b")
  }

  /** Group hashes with ≥2 members whose (byte-identical) members banded —
    * the groups that can contribute within-pairs. One 24-byte-row group-by
    * over the caller's materialized frame; materialized itself (one tiny
    * row per multi-member group) because it is rebuilt inside every
    * downstream broadcast build and its emptiness steers the expansion. */
  private def multiGroupHashes(flagged: DataFrame): DataFrame =
    compactFrame(flagged.groupBy("__h")
      .agg(count(lit(1)).as("__g"), min(col("__ok")).as("__ok"))
      .filter(col("__g") >= 2 && col("__ok"))
      .select("__h"))

  /**
   * Expand verified representative pairs back to member-id pairs:
   * within-group pairs (exact duplicates — similarity = `withinSim` by
   * construction) plus the cross product of the two member sets for every
   * verified cross-group pair (identical texts per group ⇒ the pair
   * similarity is the representatives'). All joins are equi-keyed on the
   * 16-byte group hash; output size is the true answer size.
   *
   * `multiHashes` is the set of group hashes with ≥2 members — in a
   * mostly-unique corpus it is near-empty, so the expansion machinery
   * (the within self-join and the two cross joins, which a first cut ran
   * over ALL members — a measured 2x of the whole pipeline's wall time)
   * touches only the rows that can actually expand; a singleton group's
   * member IS its representative, recovered by the left-join coalesce.
   */
  private def expandGroups(members: DataFrame, multiHashes: DataFrame,
                           repPairs: DataFrame, simName: String,
                           withinSim: Column): DataFrame = {
    // multiHashes arrives materialized (tiny), so its emptiness is a free
    // driver-side fact: a mostly-unique corpus — the common case — has no
    // multi-member groups, every representative is its group's only
    // member, and the whole expansion machinery (the hash re-attach, the
    // within self-join and two cross joins, each of whose broadcast builds
    // re-executes its subtree) is skipped outright
    if (multiHashes.isEmpty) {
      return repPairs.select(least(col("rid_a"), col("rid_b")).as("id_a"),
        greatest(col("rid_a"), col("rid_b")).as("id_b"), col(simName))
    }
    // dup-heavy path: re-attach the group hashes the candidate shuffle no
    // longer carries — repPairs is the tiny verified set, so each join
    // broadcasts it against one cached-block scan of `members`
    val withH = repPairs
      .join(members.select(col("id").as("rid_a"), col("__h").as("ha")), Seq("rid_a"))
      .join(members.select(col("id").as("rid_b"), col("__h").as("hb")), Seq("rid_b"))
    // m2 (members of multi-groups) feeds three broadcast builds;
    // materialized so they read cached blocks instead of re-running the
    // semi-join per build (blocks freed on GC)
    // multiHashes is a group-by output — already distinct; a .distinct()
    // here would be a whole extra exchange+aggregate for nothing
    val m2 = compactFrame(
      members.join(multiHashes, Seq("__h"), "left_semi"))
    val within = m2.as("x").join(m2.as("y"),
        col("x.__h") === col("y.__h") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), withinSim.as(simName))
    val cross = withH
      .join(m2.select(col("__h").as("ha"), col("id").as("__ia")), Seq("ha"), "left")
      .join(m2.select(col("__h").as("hb"), col("id").as("__ib")), Seq("hb"), "left")
      .select(least(coalesce(col("__ia"), col("rid_a")), coalesce(col("__ib"), col("rid_b"))).as("id_a"),
        greatest(coalesce(col("__ia"), col("rid_a")), coalesce(col("__ib"), col("rid_b"))).as("id_b"),
        col(simName))
    within.union(cross)
  }

  /**
   * Near-duplicate clusters: connected components of the candidate-pair
   * graph as (id, cluster), cluster = min id of the component, both of the
   * ids' (widened) type. One job collects up to [[DriverEdges]] + 1 edges;
   * a graph that fits finishes on the driver by union-find, the one-machine
   * finish of "Connected Components in MapReduce and Beyond" (Kiveris et
   * al., SoCC 2014). Bigger graphs run distributed min-label propagation
   * with pointer jumping: O(log diameter) rounds, at most `maxIter`, each
   * one equi-join + aggregate with lineage cut by localCheckpoint. Both
   * paths give the same rows; a null endpoint links nothing and labels as
   * (null, null).
   */
  def clusters(pairs: DataFrame, idAName: String, idBName: String,
               maxIter: Int = 20): DataFrame =
    clusters(pairs, idAName, idBName, maxIter, DriverEdges)

  /** [[clusters]] with the driver-path edge bound as an argument; -1 always
    * runs the distributed rounds. */
  private[ops] def clusters(pairs: DataFrame, idAName: String, idBName: String,
                            maxIter: Int, driverEdges: Int): DataFrame = {
    val directed = pairs.select(col(idAName).as("src"), col(idBName).as("dst"))
      .union(pairs.select(col(idBName).as("src"), col(idAName).as("dst")))
    val idField = directed.schema("src")
    if (idField.dataType == IntegerType || idField.dataType == LongType) {
      val local = pairs.select(col(idAName), col(idBName)).limit(driverEdges + 1).collect()
      if (local.length <= driverEdges) return driverClusters(pairs.sparkSession, local, idField)
    }
    // distributed rounds, partitioned ONCE on the join keys every round
    // reuses (edges by dst, labels by id): the one exchange is groupBy(src)
    val parts = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val edges = directed.repartition(parts, col("dst")).distinct().localCheckpoint(true)
    var labels = edges.select(col("src").as("id"))
      .repartition(parts, col("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .repartition(parts, col("src"))
        .groupBy(col("src").as("nid")).agg(min("label").as("nlabel"))
      val stepped = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          col("label").as("__prev"))
      // pointer jump: label <- label(label). Labels are vertex ids and
      // monotone non-increasing, so following one hop of the previous
      // round's table stays inside the component and (combined with the
      // neighborhood step) roughly halves the remaining diameter each
      // round — O(log d) rounds where plain propagation needs O(d). On a
      // chain-shaped component (the dedup gate's worst case) this is the
      // difference between ~20 and ~5 rounds of stage dispatch.
      val jumped = stepped.as("s")
        .join(labels.select(col("id").as("__pid"), col("label").as("__plbl")).as("p"),
          col("s.label") === col("__pid"), "left")
      val finalLabel = least(col("s.label"), coalesce(col("__plbl"), col("s.label")))
      // the change flag rides INSIDE the eagerly-checkpointed frame, so the
      // convergence probe is a filter over materialized blocks — not a
      // second join recomputing the round
      val next = jumped
        .select(col("s.id").as("id"), finalLabel.as("label"),
          (finalLabel =!= col("__prev")).as("__changed"))
        // the jump join leaves the frame keyed on LABEL; re-key on id so
        // the next round's two joins on labels("id") see the partitioning
        // the loop was designed around instead of re-exchanging the table
        .repartition(parts, col("id"))
        .localCheckpoint(true)
      val changed = next.filter(col("__changed")).limit(1).count()
      labels = next.drop("__changed")
      converged = changed == 0
      i += 1
    }
    labels.withColumnRenamed("label", "cluster")
  }

  /** Union-find over collected edges. Ids sort into a dense `long[]` index,
    * so a union toward the smaller root index keeps the component's min id. */
  private def driverClusters(spark: SparkSession, edges: Array[Row],
                             idField: StructField): DataFrame = {
    val ids = edges.flatMap(r => (0 to 1).filterNot(r.isNullAt).map(r.getAs[Number](_).longValue))
    java.util.Arrays.sort(ids)
    val n = (1 until ids.length).foldLeft(math.min(ids.length, 1)) { (k, i) =>
      if (ids(i) != ids(k - 1)) { ids(k) = ids(i); k + 1 } else k
    }
    val parent = Array.range(0, n)
    @annotation.tailrec def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = parent(parent(x)); find(parent(x)) }
    def index(r: Row, j: Int) = java.util.Arrays.binarySearch(ids, 0, n, r.getAs[Number](j).longValue)
    edges.foreach { r =>
      if (!r.anyNull) {
        val (x, y) = (find(index(r, 0)), find(index(r, 1)))
        if (x < y) parent(y) = x else parent(x) = y
      }
    }
    val asId: Long => Any = if (idField.dataType == IntegerType) _.toInt else identity
    val rows = (0 until n).map(i => Row(asId(ids(i)), asId(ids(find(i))))) ++
      edges.find(_.anyNull).map(_ => Row(null, null))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(idField.copy(name = "id"), idField.copy(name = "cluster"))))
  }

  /** Rows surviving near-dup clustering: the min-id representative of each
    * component plus every row that appears in no candidate pair. */
  def nearDupSurvivors(df: DataFrame, idName: String, pairs: DataFrame,
                       idAName: String, idBName: String): DataFrame = {
    val cl = clusters(pairs, idAName, idBName)
    val losers = cl.filter(col("id") =!= col("cluster")).select(col("id").as("__loser"))
    df.join(losers, df(idName) === col("__loser"), "left_anti")
  }
}
