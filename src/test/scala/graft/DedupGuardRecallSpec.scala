package graft

import graft.functions.TextRT
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Degenerate-bucket guards (web corpora are full of empty pages) and
  * measured recall of the approximate similarity paths vs brute force. */
class DedupGuardRecallSpec extends SparkSpec {
  import spark.implicits._

  // ---- deterministic synthetic embedding corpus with planted near-dups ----
  private val Dim = 32
  private val N = 2000
  private def baseVec(seed: Long): Array[Float] =
    Array.tabulate(Dim)(j => ((TextRT.mix64(seed * 131 + j) % 1000L) / 500.0f - 1.0f))
  private def perturb(v: Array[Float], seed: Long): Array[Float] =
    Array.tabulate(Dim)(j => v(j) + (TextRT.mix64(seed * 37 + j) % 100L) / 100.0f * 0.02f)

  /** ids 0..999: independent vectors; ids 1000..1499: perturbed copies of
    * vec(id % 250) — 250 planted near-dup clusters; 1500..1999 independent. */
  private lazy val corpus: Map[Long, Array[Float]] = (0 until N).map { i =>
    val v = if (i >= 1000 && i < 1500) perturb(baseVec(i % 250), i.toLong)
            else baseVec(i.toLong)
    i.toLong -> v
  }.toMap
  private lazy val corpusDf = corpus.toSeq.sortBy(_._1).toDF("vec_id", "embedding")

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < Dim) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  test("minhashPairs: sub-shingle docs are excluded, never quadratic") {
    val docs = (0 until 3000).map(i => (i.toLong, "tiny")) ++ // 1 token < shingle=3
      Seq((9001L, "the quick brown fox jumps over the lazy dog again and again"),
          (9002L, "the quick brown fox jumps over the lazy dog again and again today"))
    val df = docs.toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the 3000 degenerate docs would otherwise form ~4.5M pairs in EVERY band
    assert(pairs.toSet === Set((9001L, 9002L)))
  }

  test("minhashPairs: identical-doc mega-cluster survives the bucket cap") {
    // r2 ADVICE regression: 500 byte-identical docs oversized EVERY band
    // bucket and the cap silently dropped the whole cluster. The exact-group
    // collapse makes the cluster ONE bucket slot; all its pairs come back.
    val docs = (0 until 500).map(i => (i.toLong, "identical shingled text content here"))
    val df = docs.toDF("doc_id", "text")
    val n = Dedup.minhashPairs(df, "text", "doc_id", maxBucket = 100).count()
    assert(n === 500L * 499L / 2L)
  }

  test("minhashPairs: bucket cap still drops buckets of many DISTINCT texts") {
    val docs = Seq(
      (9001L, "the quick brown fox jumps over the lazy dog again and again"),
      (9002L, "the quick brown fox jumps over the lazy dog again and again today"))
    val df = docs.toDF("doc_id", "text")
    // the two DISTINCT near-dups co-bucket (2 groups/bucket > cap 1) -> dropped
    assert(Dedup.minhashPairs(df, "text", "doc_id", maxBucket = 1).count() === 0L)
    // default cap: pair found
    assert(Dedup.minhashPairs(df, "text", "doc_id").count() === 1L)
  }

  test("minhashPairs: cross-group expansion yields all member pairs") {
    // group A: 3 copies; group B: 2 copies of a near-dup text. Expected
    // pairs: C(3,2)=3 within A + C(2,2)=1 within B + 3*2=6 cross = 10.
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tB = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq((1L, tA), (2L, tA), (3L, tA), (10L, tB), (11L, tB))
    val pairs = Dedup.minhashPairs(docs.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L),
      (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L), (3L, 11L)))
  }

  test("simhashPairs: empty/whitespace docs excluded; cap applies") {
    val docs = (0 until 3000).map(i => (i.toLong, "")) ++
      Seq((9001L, "the same genuine page text survives the guard"),
          (9002L, "the same genuine page text survives the guard"))
    val pairs = Dedup.simhashPairs(docs.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // 3000 empty docs all share sig=0 (would meet in every block); excluded
    assert(pairs.toSet === Set((9001L, 9002L)))
  }

  test("simhashPairs: identical-doc cluster survives the cap (group collapse)") {
    val docs = (0 until 100).map(i => (i.toLong, "same genuine page text kept"))
    val n = Dedup.simhashPairs(docs.toDF("doc_id", "text"), "text", "doc_id",
      maxBucket = 10).count()
    assert(n === 100L * 99L / 2L)
  }

  test("embedding nearDupPairs recall >= 0.9 vs brute-force pairs at bits=10") {
    val thr = 0.9
    val ids = corpus.keys.toArray.sorted
    val truePairs = (for {
      ai <- ids.indices.iterator; bi <- (ai + 1) until ids.length
      if cos(corpus(ids(ai)), corpus(ids(bi))) >= thr
    } yield (ids(ai), ids(bi))).toSet
    assert(truePairs.size >= 500, s"fixture sanity: ${truePairs.size} planted pairs")
    val got = Similarity.nearDupPairs(corpusDf, "embedding", "vec_id", thr, bits = 10, nprobe = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no false positives (exact cosine refine) ...
    assert(got.subsetOf(truePairs))
    // ... and the bucketed candidate generation keeps recall
    val recall = got.size.toDouble / truePairs.size
    assert(recall >= 0.9, s"recall $recall (${got.size}/${truePairs.size})")
  }

  test("multiprobe candidate generation is direction-symmetric (regression)") {
    import graft.functions.VecRT
    val bits = 10; val nprobe = 3
    // hunt the planted pairs for one whose bucket keys differ such that
    // ONLY the higher-id vector's probe set reaches the lower-id bucket —
    // the direction the pre-fix id_a<id_b filter silently dropped
    val probeCache = (0L until 300L).map { id =>
      id -> (VecRT.lshKey(corpus(id), bits), VecRT.lshProbes(corpus(id), bits, nprobe).toSet)
    }.toMap
    val asym = (for {
      a <- (0L until 300L).iterator; b <- (a + 1) until 300L
      (ka, pa) = probeCache(a); (kb, pb) = probeCache(b)
      if ka != kb && !pa.contains(kb) && pb.contains(ka)
    } yield (a, b, corpus(a), corpus(b))).buffered.headOption
    assume(asym.nonEmpty, "fixture produced no asymmetric-probe pair at these params")
    val (ia, ib, va, vb) = asym.get
    val thr = cos(va, vb) - 0.01
    val twoRows = Seq((ia, va), (ib, vb)).toDF("vec_id", "embedding")
    val got = Similarity.nearDupPairs(twoRows, "embedding", "vec_id", thr,
        bits = bits, nprobe = nprobe)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet === Set((math.min(ia, ib), math.max(ia, ib))),
      s"pair ($ia,$ib) reachable only via the higher-id probes must survive")
  }

  test("annTopK multiprobe recall@10 >= 0.8 vs brute force") {
    val q = corpus(7L) // has planted near-dups: ids 1007, 1257 perturb base 7
    val brute = corpus.toSeq.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    val ann = Similarity.annTopK(corpusDf, "embedding", "vec_id", q, 10, bits = 8, nprobe = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(ann).size / 10.0
    assert(recall >= 0.8, s"recall $recall, ann=$ann brute=$brute")
  }

  test("ivfTopK trained-centroid recall@10 >= 0.8 vs brute force") {
    val q = corpus(7L)
    val brute = corpus.toSeq.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    val ivf = Similarity.ivfTopK(corpusDf, "embedding", "vec_id", q, 10, nlist = 16, nprobe = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(ivf).size / 10.0
    assert(recall >= 0.8, s"recall $recall, ivf=$ivf brute=$brute")
  }

  test("driver-side lsh key == executor-side lsh_key expression") {
    val q = corpus(42L)
    val driverKey = graft.functions.VecRT.lshKey(q, 12)
    val execKey = corpusDf.filter($"vec_id" === 42L)
      .select(graft.functions.vx.lshKey($"embedding", lit(12))).head().getLong(0)
    assert(driverKey === execKey)
  }

  test("minhash/simhash small and big code paths produce identical pairs") {
    // the pipelines fork on corpus size (small: payload rides the candidate
    // shuffle; big: slim shuffle + re-attach joins + heavier
    // materialization) — both paths must answer identically. The fixture
    // mixes exact-dup groups (expansion path), near-dups, and uniques.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairsWith(big: Boolean, fn: Boolean => org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      fn(big).select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def mh(big: Boolean) = graft.ops.Dedup.minhashPairs(docs, "text", "doc_id", 32, 4, 3, 0.6, 10000L, big)
    def sh(big: Boolean) = graft.ops.Dedup.simhashPairs(docs, "text", "doc_id", 3, 10000L, big)
    val mhSmall = pairsWith(big = false, mh)
    val mhBig = pairsWith(big = true, mh)
    assert(mhSmall === mhBig && mhSmall.nonEmpty)
    val shSmall = pairsWith(big = false, sh)
    val shBig = pairsWith(big = true, sh)
    assert(shSmall === shBig && shSmall.nonEmpty)
  }
}
