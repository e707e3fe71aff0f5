package graft

import graft.ops.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable.ArrayBuffer

/** The small and big paths of the near-duplicate operators give the same
  * pairs and the same similarity values on seeded corpora with every
  * degenerate case the operators guard against, and the small path stays a
  * handful of Spark jobs. */
class DedupParitySpec extends SparkSpec {

  /** Seeded corpus of (id, text): unique texts, exact-duplicate groups of
    * 2–50 members, near-duplicate chains (one word replaced per link) with a
    * duplicated link each, sub-shingle, empty, whitespace and null texts,
    * and null ids, two of them inside exact-duplicate groups. */
  private def corpus(seed: Long): Seq[(Option[Long], String)] = {
    val rnd = new scala.util.Random(seed)
    def word() = s"w${rnd.nextInt(300)}"
    def words(n: Int) = Array.fill(n)(word())
    val texts = ArrayBuffer.empty[String]
    (0 until 120).foreach(_ => texts += words(8 + rnd.nextInt(20)).mkString(" "))
    (0 until 6).foreach { _ =>
      val t = words(10 + rnd.nextInt(10)).mkString(" ")
      texts ++= Seq.fill(2 + rnd.nextInt(49))(t)
    }
    (0 until 6).foreach { _ =>
      var w = words(16 + rnd.nextInt(8))
      val links = (0 until 6).map { _ =>
        val t = w.mkString(" ")
        w = w.updated(rnd.nextInt(w.length), word())
        t
      }
      texts ++= links
      texts ++= Seq.fill(1 + rnd.nextInt(3))(links(rnd.nextInt(links.length)))
    }
    // pairs at Jaccard exactly 0.6, the default threshold: 14 words, the
    // middle one replaced, share 9 of 15 distinct 3-shingles
    (0 until 8).foreach { k =>
      val w = Array.tabulate(14)(i => s"j${k}x$i")
      texts += w.mkString(" ")
      texts += w.updated(7, s"j${k}y").mkString(" ")
    }
    texts ++= Seq("two words", "two words", "one", "", "", "   ", null, null)
    val shuffled = rnd.shuffle(texts.toSeq)
    // a null id on a unique-or-degenerate row, and on members of two groups
    val groupMembers = shuffled.indices.filter(i => shuffled.count(_ == shuffled(i)) > 1)
    val nullAt = Set(shuffled.indices.last, groupMembers(0), groupMembers(groupMembers.length / 2))
    shuffled.zipWithIndex.map { case (t, i) => (if (nullAt(i)) None else Some(7L + 3L * i), t) }
  }

  private def frame(rows: Seq[(Option[Long], String)], intIds: Boolean): DataFrame = {
    val idType = if (intIds) IntegerType else LongType
    val data = rows.map { case (id, t) =>
      Row(id.map(v => if (intIds) v.toInt: Any else v: Any).orNull, t)
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*),
      StructType(Seq(StructField("doc_id", idType), StructField("text", StringType))))
  }

  /** (id_a, id_b, similarity) rows of `run` on the big path or the small one. */
  private def pairs(big: Boolean, run: Boolean => DataFrame): (StructType, Seq[(Long, Long, Any)]) = {
    val df = run(big)
    (df.schema, df.collect().toSeq.map(r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue, r.get(2))))
  }

  /** minhashPairs / simhashPairs at their default parameters unless given. */
  private def minhash(df: DataFrame, maxBucket: Long = 10000L)(big: Boolean): DataFrame =
    Dedup.minhashPairs(df, "text", "doc_id", 32, 4, 3, 0.6, maxBucket, big)
  private def simhash(df: DataFrame, maxHamming: Int, maxBucket: Long)(big: Boolean): DataFrame =
    Dedup.simhashPairs(df, "text", "doc_id", maxHamming, maxBucket, big)

  /** Asserts small == big (schema types and pair set; the small path emits
    * each pair once) and returns the pairs. */
  private def parity(run: Boolean => DataFrame): Set[(Long, Long, Any)] = {
    val (smallSchema, smallRows) = pairs(big = false, run)
    val (bigSchema, bigRows) = pairs(big = true, run)
    val (small, big) = (smallRows.toSet, bigRows.toSet)
    assert(smallSchema.map(_.dataType) === bigSchema.map(_.dataType))
    assert(smallRows.size === small.size, "the small path emitted a pair twice")
    assert(small === big, s"small-only ${small -- big}, big-only ${big -- small}")
    assert(small.forall { case (a, b, _) => a < b })
    small
  }

  private val cases = Seq(
    ("seed 1", 1L, false, 10000L), ("seed 2", 2L, false, 10000L),
    ("seed 3, integer ids", 3L, true, 10000L),
    ("seed 1, maxBucket = 3", 1L, false, 3L), ("seed 1, maxBucket = 1", 1L, false, 1L))

  cases.foreach { case (name, seed, intIds, maxBucket) =>
    test(s"minhashPairs: small path == big path, $name") {
      val df = frame(corpus(seed), intIds)
      val got = parity(minhash(df, maxBucket))
      val sims = got.toSeq.map(_._3.asInstanceOf[Double])
      assert(sims.contains(1.0))
      if (maxBucket > 3) assert(sims.contains(0.6) && sims.exists(s => s > 0.6 && s < 1.0))
      if (intIds) {
        val (schema, _) = pairs(big = false, minhash(df))
        assert(schema("id_a").dataType === IntegerType && schema("id_b").dataType === IntegerType)
      }
    }

    test(s"simhashPairs: small path == big path, $name") {
      val df = frame(corpus(seed), intIds)
      val got = parity(simhash(df, maxHamming = 6, maxBucket = maxBucket))
      val dists = got.toSeq.map(_._3.asInstanceOf[Int])
      assert(dists.contains(0))
      if (maxBucket > 3) assert(dists.exists(_ > 0))
    }
  }

  test("a 500-member identical cluster and its near-duplicate: small == big") {
    val t = (0 until 20).map(i => s"w$i").mkString(" ")
    val near = (0 until 19).map(i => s"w$i").mkString(" ") + " other"
    val rows = (0 until 500).map(i => (Some(i.toLong), t)) ++
      Seq((Some(900L), near), (Some(901L), near), (Some(902L), "unrelated words in a page"))
    val df = frame(rows, intIds = false)
    val mh = parity(minhash(df, maxBucket = 100))
    assert(mh.size === 500 * 499 / 2 + 1 + 500 * 2)
    val sh = parity(simhash(df, maxHamming = 64, maxBucket = 100))
    assert(sh.count(_._3 == 0) === 500 * 499 / 2 + 1)
  }

  test("minhashPairs on the sf0.001 fixture runs at most 8 Spark jobs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val jobs = countJobs(Dedup.minhashPairs(docs, "text", "doc_id").collect())
    info(s"$jobs jobs")
    assert(jobs <= 8, s"$jobs jobs")
  }

  /** Jobs started by `body`: everything the listener sees between two
    * marker jobs (listener events arrive in order). */
  private def countJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("count-start")
      body
      marker("count-end")
      val names = Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .map(n => { assert(n != null, "listener missed the end marker"); n })
        .takeWhile(_ != "count-end").toSeq
      assert(names.contains("count-start"), "listener missed the start marker")
      names.dropWhile(_ != "count-start").size - 1
    } finally sc.removeSparkListener(listener)
  }
}
