package graft.perfbench

import graft.functions.tx
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/**
 * Near-duplicate detection: MinHash pairs plus connected clusters over a
 * 5,000-doc corpus with planted near-duplicates (the sf0.1 `documents`
 * size the dedup small path was tuned on), and embedding near-duplicate
 * pairs over planted vectors.
 *
 * A corpus large enough for the big path (an estimated size above
 * `Dedup.SmallCorpusBytes`, ~1M docs of this profile) takes minutes per
 * repetition at this size class, so only the small side of the fork is
 * measured; `dedup.size_class` records the side taken.
 */
object DedupW extends Part {
  val Docs = 5000L
  /** Cosine bar for the embedding pairs; planted pairs sit at ≈ 0.999. */
  val VecThreshold = 0.99
  val RecallFloor = 0.95

  private var lastPairs: Option[DataFrame] = None
  private var lastVecPairs: Option[DataFrame] = None
  private var digests = Map.empty[String, Seq[Digest]].withDefaultValue(Nil)

  private def docPath(ctx: Ctx) = s"${ctx.dataDir}/docs"
  private def vecPath(ctx: Ctx) = s"${ctx.dataDir}/vectors"
  private def vecRows(ctx: Ctx) = ctx.rows(10000L)
  def rowsPerRep(ctx: Ctx): Long = Docs + vecRows(ctx)
  def tables(ctx: Ctx): Seq[(String, Seq[String])] =
    Seq(docPath(ctx) -> Seq("doc_id", "text"), vecPath(ctx) -> Seq("vec_id", "embedding"))

  def setup(ctx: Ctx): Unit = {
    Inputs.docs(ctx.spark, ctx.seed, Docs, 1).write.mode("overwrite").parquet(docPath(ctx))
    Inputs.vectors(ctx.spark, ctx.seed, vecRows(ctx), 4 * ctx.nproc).write.mode("overwrite").parquet(vecPath(ctx))
    ctx.inputs("docs") = Docs
    ctx.inputs("vectors") = vecRows(ctx)
  }

  /** Size class the dedup operators took, observed in the executed plan:
    * only the small path guards band buckets with a window. */
  private def sizeClass(ns: Seq[SparkPlan]): String =
    if (ns.exists(_.isInstanceOf[WindowExec])) "small" else "big"

  private def record(k: String, d: Digest): Unit = digests += k -> (digests(k) :+ d)

  def rep(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val docs = spark.read.parquet(docPath(ctx))
    // the dedup operators persist their compact frames: a repetition must
    // not find the previous one's blocks in the cache
    spark.catalog.clearCache()
    ctx.op("dedup.minhash") {
      // the checkpoint executes `pairs`' plan, whose metrics the traced
      // repetitions read; clusters then start from the materialized pairs
      val pairs = Dedup.minhashPairs(docs, "text", "doc_id").select("id_a", "id_b")
      val cp = pairs.localCheckpoint(eager = true)
      (pairs, cp, Digest.of(cp, "id_a", "id_b")._1)
    }.foreach { case ((pairs, cp, d), secs) =>
      ctx.sample("minhash_docs_per_s", Docs / secs)
      ctx.sample("small_dedup_ms", secs * 1e3)
      record("minhash", d)
      lastPairs = Some(cp)
      val ns = PlanWalk.nodes(pairs.queryExecution.executedPlan)
      ctx.decisions("dedup.size_class") = sizeClass(ns)
      if (ctx.traced) {
        val cand = Pip.joinRowsOn(ns, "band")
        ctx.layer("dedup.size_class", if (sizeClass(ns) == "big") 1.0 else 0.0)
        ctx.layer("dedup.band_candidates", cand.toDouble)
        ctx.layer("dedup.verified_pairs", d.rows.toDouble)
        ctx.layer("dedup.candidate_yield", if (cand > 0) d.rows.toDouble / cand else 0.0)
        ctx.lastSpanSpark("dedup.minhash").foreach { s =>
          ctx.layer("dedup.jobs", s.jobs.toDouble)
          ctx.layer("dedup.shuffle_bytes", s.shuffleWriteBytes.toDouble)
        }
        // signature pass alone, through the kernels minhashPairs uses, with
        // its default hash count, shingle size and band width
        val sig = ctx.timeMs("dedup.signature") {
          val minhash = tx.minhash(col("text"), lit(Dedup.minhashPairs$default$4), lit(Dedup.minhashPairs$default$6))
          docs.agg(max(element_at(tx.lshBands(minhash, lit(Dedup.minhashPairs$default$5)), 1))).collect()
        }._2
        ctx.layer("dedup.signature_s", sig / 1e3)
      }
      ctx.op("dedup.clusters")(Digest.of(Dedup.clusters(cp, "id_a", "id_b"), "id", "cluster")._1)
        .foreach { case (c, cs) =>
          record("clusters", c)
          ctx.layer("dedup.cluster_s", cs)
        }
    }

    val vecs = spark.read.parquet(vecPath(ctx))
    ctx.op("ann.near_dup") {
      val pairs = Similarity.nearDupPairs(vecs, "embedding", "vec_id", VecThreshold)
      val (d, q) = Digest.of(pairs, "id_a", "id_b")
      (pairs, d, q)
    }.foreach { case ((pairs, d, q), secs) =>
      ctx.sample("embed_vecs_per_s", vecRows(ctx) / secs)
      record("ann", d)
      lastVecPairs = Some(pairs)
      if (ctx.traced) {
        val cand = Pip.joinRowsOn(PlanWalk.nodes(q.queryExecution.executedPlan), "__key")
        ctx.layer("ann.candidates", cand.toDouble)
        ctx.layer("ann.pairs", d.rows.toDouble)
        ctx.layer("ann.candidate_yield", if (cand > 0) d.rows.toDouble / cand else 0.0)
        ctx.lastSpanSpark("ann.near_dup").foreach(s => ctx.layer("ann.shuffle_bytes", s.shuffleWriteBytes.toDouble))
      }
    }
  }

  /** Share of planted (id - 1, id) pairs found. */
  private def recall(pairs: DataFrame, planted: DataFrame): Double = {
    val n = planted.count()
    val found = planted.join(pairs.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi").count()
    if (n == 0) 1.0 else found.toDouble / n
  }

  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Seq("minhash", "clusters", "ann").foreach(k => Pip.checkStable(ctx, k, digests(k)))
    val plantedDocs = spark.range(17, Docs, 17).select((col("id") - 1).as("id_a"), col("id").as("id_b"))
    val plantedVecs = spark.range(1, vecRows(ctx), 10).select((col("id") - 1).as("id_a"), col("id").as("id_b"))
    Seq(
      ("dedup.recall", lastPairs, plantedDocs, Inputs.plantedDocPairs(Docs)),
      ("ann.recall", lastVecPairs, plantedVecs, Inputs.plantedVecPairs(vecRows(ctx)))
    ).foreach { case (name, pairs, planted, plantedRows) =>
      ctx.check(s"$name.planted_count", planted.count() == plantedRows, "planted pair count")
      pairs match {
        case Some(p) =>
          val r = recall(p, planted)
          ctx.finals(name) = r
          ctx.check(s"$name.floor", r >= RecallFloor, s"recall $r below $RecallFloor")
        case None => ctx.check(s"$name.measured", ok = false, "no successful run to measure")
      }
    }
  }
}
