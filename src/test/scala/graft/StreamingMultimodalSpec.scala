package graft

import graft.ops.{Multimodal, SpatialJoin}
import graft.streaming.LiveView
import graft.streaming.LiveView.{FeatureEvent, LiveFeature}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming live view (T1-T3) with MemoryStream, and the multimodal
  * binary-column pipeline. */
class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  // Tests drive the query with Trigger.AvailableNow — each run drains the
  // input then stops; state resumes from the checkpoint. foreachBatch is
  // the sink because it supports checkpoint recovery (memory sink doesn't).
  private def drain(ckpt: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val q = df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect()
        StreamingMultimodalSpec.sink.addAll(java.util.Arrays.asList(rows: _*))
        () // foreachBatch needs Unit, addAll returns Boolean
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "query did not drain in time")
  }
  private def collected: Seq[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    StreamingMultimodalSpec.sink.iterator().asScala.toSeq
  }

  test("live view: upsert-by-id keeps latest, delete removes, state survives restart (T2)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    StreamingMultimodalSpec.sink.clear()
    val input = MemoryStream[FeatureEvent]
    def live = LiveView.liveState(input.toDS()).toDF()
    input.addData(
      FeatureEvent("a", 1.0, 1.0, 100L, "upsert"),
      FeatureEvent("b", 2.0, 2.0, 100L, "upsert"))
    drain(ckpt, live)
    input.addData(
      FeatureEvent("a", 5.0, 5.0, 200L, "upsert"), // update wins by ts
      FeatureEvent("b", 0.0, 0.0, 300L, "delete"))
    drain(ckpt, live) // resume from checkpoint (restartability)
    val rows = collected.map(r => LiveFeature(r.getString(0), r.getDouble(1),
      r.getDouble(2), r.getLong(3), r.getBoolean(4)))
    val latest = rows.groupBy(_.id).map { case (id, rs) => id -> rs.maxBy(_.tsMillis) }
    assert(latest("a").alive && latest("a").lon === 5.0)
    assert(!latest("b").alive)
  }

  test("live view: event-time TTL physically evicts state and emits tombstones (T1)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_ttl").toString
    StreamingMultimodalSpec.sink.clear()
    val input = MemoryStream[FeatureEvent]
    def live = LiveView.liveStateEvicting(input.toDS(), ttlMillis = 5000L).toDF()
    // batch 1: key "a" written at t=1s (timer armed for t=6s)
    input.addData(FeatureEvent("a", 1.0, 1.0, 1000L, "upsert"))
    drain(ckpt, live)
    // batch 2: key "b" at t=100s advances the watermark past a's timer
    input.addData(FeatureEvent("b", 2.0, 2.0, 100000L, "upsert"))
    drain(ckpt, live)
    // batch 3: any further data lets the timer fire (watermark now 100s)
    input.addData(FeatureEvent("c", 3.0, 3.0, 200000L, "upsert"))
    drain(ckpt, live)
    val rows = collected.map(r => LiveFeature(r.getString(0), r.getDouble(1),
      r.getDouble(2), r.getLong(3), r.getBoolean(4)))
    val aRows = rows.filter(_.id == "a")
    assert(aRows.exists(_.alive), "initial upsert emitted")
    assert(aRows.exists(!_.alive), s"TTL eviction tombstone for 'a' missing: $rows")
    // the youngest key's timer (200s + ttl) is beyond the final watermark
    // (200s) — its state survives
    assert(rows.filter(_.id == "c").forall(_.alive))
  }

  test("live view: bbox filter over the changelog (T3)") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt3").toString
    val input = MemoryStream[FeatureEvent]
    val view = LiveView.bboxView(
      LiveView.withTtl(LiveView.liveState(input.toDS()), ttlMillis = 3600000L, asOfMillis = 1000L),
      0, 0, 10, 10)
    StreamingMultimodalSpec.sink.clear()
    input.addData(
      FeatureEvent("in", 5.0, 5.0, 100L, "upsert"),
      FeatureEvent("out", 50.0, 50.0, 100L, "upsert"))
    drain(ckpt, view)
    val ids = collected.map(_.getString(0)).toSet
    assert(ids === Set("in"))
  }

  test("live view: write-TTL expiry is invisible on read (T1)") {
    val live = Seq(
      LiveFeature("fresh", 1, 1, 900L, alive = true),
      LiveFeature("stale", 2, 2, 100L, alive = true),
      LiveFeature("dead", 3, 3, 950L, alive = false)).toDS()
    val visible = LiveView.withTtl(live, ttlMillis = 500L, asOfMillis = 1000L)
      .collect().map(_.id).toSet
    assert(visible === Set("fresh"))
  }

  test("live view: stream-static spatial join — broadcast polygons, stream never shuffles") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_ss").toString
    StreamingMultimodalSpec.sink.clear()
    // two small boxes cover at a fine ladder level, the world box at a
    // coarse one: the stream's ladder must match both
    val polys = Seq((1L, -10.0, -10.0, 10.0, 10.0), (2L, 100.0, 40.0, 120.0, 60.0), (3L, -180.0, -90.0, 180.0, 90.0))
      .toDF("region_id", "x0", "y0", "x1", "y1")
      .withColumn("region_geom", graft.functions.st.makeBox(col("x0"), col("y0"), col("x1"), col("y1")))
      .select("region_id", "region_geom")
    val coverLevels = polys.select(graft.functions.st.cellCoverLevel(col("region_geom"),
      lit(SpatialJoin.DefaultBudget), typedLit(SpatialJoin.DefaultLevels))).distinct().count()
    assert(coverLevels >= 2, s"covers at $coverLevels level(s)")
    val batches = Seq(
      Seq(FeatureEvent("in1", 0.0, 0.0, 1L, "upsert"),      // regions 1, 3
        FeatureEvent("in2", 110.0, 50.0, 2L, "upsert"),      // regions 2, 3
        FeatureEvent("out", -50.0, -50.0, 3L, "upsert")),    // region 3
      Seq(FeatureEvent("in3", 9.5, -9.5, 4L, "upsert"),      // regions 1, 3
        FeatureEvent("in4", 119.9, 59.9, 5L, "upsert"),      // regions 2, 3
        FeatureEvent("pole", -179.5, 89.5, 6L, "upsert"),    // region 3
        FeatureEvent("edge", 10.0, 0.0, 7L, "upsert")))      // region 3: on box 1's boundary
    val input = MemoryStream[FeatureEvent]
    def joined = LiveView.streamPointsInPolygons(
        input.toDS().toDF(), "lon", "lat", polys, "region_geom")
      .select("id", "region_id")
    batches.foreach { b => input.addData(b); drain(ckpt, joined) } // one micro-batch each
    val got = collected.map(r => (r.getString(0), r.getLong(1)))
    val points = batches.flatten.toDF().withColumn("geom", graft.functions.st.point(col("lon"), col("lat")))
    val expect = SpatialJoin.containsJoin(polys, "region_geom", points, "geom")
      .select("id", "region_id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.size === got.toSet.size, "duplicate pairs emitted")
    assert(got.toSet === expect)
    assert(expect.map(_._2) === Set(1L, 2L, 3L) && expect.size === 11)
    // the batch form of the same join: the polygon covers are broadcast
    // and no exchange shuffles the point side
    val plan = LiveView.streamPointsInPolygons(points, "lon", "lat", polys, "region_geom")
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty, plan.toString)
  }

  test("multimodal: REAL image decode/resize/luma-histogram via JDK imageio") {
    import java.awt.image.BufferedImage
    // generate genuine PNGs: left half black, right half white, per-row size
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x =>
        img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)))
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val rows = Seq((1L, png(64, 32)), (2L, png(10, 10)),
      (3L, "not an image".getBytes("UTF-8")))
    val df = rows.toDF("id", "payload")
    val out = df.select(col("id"),
        graft.ops.Multimodal.imageMeta(col("payload")).as("meta"),
        graft.ops.Multimodal.imageResize(col("payload"), 8, 8).as("small"),
        graft.ops.Multimodal.imageLumaHist(col("payload"), 4).as("hist"))
      .orderBy("id").collect()
    // real header parse: exact dimensions + format
    assert(out(0).getStruct(1).getInt(0) === 64 && out(0).getStruct(1).getInt(1) === 32)
    assert(out(0).getStruct(1).getString(2) === "png")
    // resize output decodes back at the target size
    val resized = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(0).getAs[Array[Byte]](2)))
    assert(resized.getWidth === 8 && resized.getHeight === 8)
    // half-black/half-white → mass in the darkest and brightest luma bins
    val hist = out(0).getSeq[Long](3)
    assert(hist.length === 4)
    assert(hist.head + hist.last === 64L * 32)
    assert(hist.head === 64L * 32 / 2)
    // undecodable bytes → null, never an exception
    assert(out(2).isNullAt(1) && out(2).isNullAt(2) && out(2).isNullAt(3))
    // SQL surface
    val sqlMeta = spark.sql(s"SELECT image_meta(X'${rows(1)._2.map("%02x".format(_)).mkString}').width")
      .head().getInt(0)
    assert(sqlMeta === 10)
  }

  test("multimodal: image near-dup via luma-hist LSH finds planted resized copies (recall >= 0.9)") {
    import java.awt.image.BufferedImage
    // distinct two-tone images: per-seed dark/bright levels and mix ratio →
    // distinct histogram shapes (uniform noise would make EVERYTHING a
    // near-dup); mid-bin luma levels so bin assignment is stable
    def img(seed: Int, w: Int, h: Int, threshDelta: Int = 0): Array[Byte] = {
      val dark = 8 * (seed % 12) + 4          // mid-bin at bins=32
      val bright = 255 - 8 * (seed % 9) - 4
      val thresh = 20 + (seed * 7) % 60 + threshDelta
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach { x =>
        val v = if ((x * 31 + y * 17 + seed * 13) % 97 < thresh) dark else bright
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      })
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", buf)
      buf.toByteArray
    }
    val bases = (0 until 30).map(s => (s.toLong, img(s, 48, 48)))
    // planted near-dups: lightly EDITED copies of the first 10 (~2% of
    // pixels shift between the two tones — the slightly-retouched-copy
    // case; a bilinear resize of this high-frequency pattern would smear
    // the histogram, which is exactly why dedup keys on the histogram of
    // the ORIGINAL pixels)
    val dups = (0 until 10).map(s => (100L + s, img(s, 48, 48, threshDelta = 2)))
    val rows = bases ++ dups
    val df = rows.toDF("id", "payload")
    // ground truth: brute all-pairs cosine over the SAME luma histograms
    def hist(b: Array[Byte]) = graft.functions.ImageRT.lumaHistogram(b, 32).map(_.toFloat)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val feats = rows.map { case (id, b) => id -> hist(b) }.toMap
    val thr = 0.97
    val ids = rows.map(_._1)
    val truth = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.length
      if cos(feats(ids(i)), feats(ids(j))) >= thr
    } yield (ids(i), ids(j))).toSet
    assert(truth.size >= 10, s"fixture sanity: ${truth.size} planted pairs")
    val got = graft.ops.Multimodal.imageNearDupPairs(df, "payload", "id", bins = 32,
        threshold = thr).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), s"exact refine forbids false positives: ${got.diff(truth)}")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (${got.size}/${truth.size})")
  }

  test("multimodal: audio near-dup via RMS-envelope LSH finds planted re-gained copies") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def wav(seed: Int, gain: Double): Array[Byte] = {
      val n = 4000
      val pcm = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        // per-seed loudness-over-time shape; gain rescales it (same shape)
        val window = (i * 8) / n
        val base = if ((seed >> window % 8 & 1) == 1 || (window + seed) % 3 == 0) 9000 else 600
        val v = (base * gain).toInt * (if (i % 16 < 8) 1 else -1)
        pcm(i * 2) = (v & 0xff).toByte; pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n)
      val buf = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, buf)
      buf.toByteArray
    }
    val rows = (0 until 12).map(s => (s.toLong, wav(s, 1.0))) ++
      (0 until 4).map(s => (100L + s, wav(s, 0.5))) // re-gained copies
    val df = rows.toDF("id", "payload")
    val got = graft.ops.Multimodal.audioNearDupPairs(df, "payload", "id",
        bins = 16, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted (s, 100+s) pair must surface (cosine is gain-invariant)
    (0 until 4).foreach { s =>
      assert(got.contains((s.toLong, 100L + s)), s"planted pair $s missing: $got")
    }
  }

  test("multimodal: REAL audio decode (WAV) meta + RMS envelope") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 16-bit mono 8kHz WAV: silence then a loud square wave
    def wav(): Array[Byte] = {
      val n = 8000
      val pcm = new Array[Byte](n * 2)
      (n / 2 until n).foreach { i =>
        val v = if (i % 20 < 10) 12000 else -12000
        pcm(i * 2) = (v & 0xff).toByte; pcm(i * 2 + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n)
      val buf = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, buf)
      buf.toByteArray
    }
    val df = Seq((1L, wav()), (2L, "noise".getBytes("UTF-8"))).toDF("id", "payload")
    val out = df.select(col("id"),
        graft.ops.Multimodal.audioMeta(col("payload")).as("meta"),
        graft.ops.Multimodal.audioRmsEnvelope(col("payload"), 4).as("env"))
      .orderBy("id").collect()
    val meta = out(0).getStruct(1)
    assert(meta.getInt(0) === 8000 && meta.getInt(1) === 1 && meta.getLong(2) === 8000L)
    val env = out(0).getSeq[Long](2)
    // first half silent, second half loud
    assert(env(0) === 0L && env(1) === 0L && env(2) > 1000L && env(3) > 1000L, env)
    assert(out(1).isNullAt(1) && out(1).isNullAt(2))
  }

  test("multimodal: media table schema, deterministic stub decode, features") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val media = Multimodal.mediaTable(docs)
    assert(media.schema("payload").dataType.typeName === "binary")
    assert(media.schema("meta").dataType.typeName === "struct")
    val feats = Multimodal.features(media, bins = 16).collect()
    assert(feats.length === docs.count())
    feats.foreach { r =>
      val hist = r.getSeq[Long](4)
      assert(hist.length === 16)
      val meta = r.getStruct(2)
      // histogram mass == payload byte count (text is ascii-ish; exact)
      assert(hist.sum === meta.getLong(2))
      assert(meta.getInt(0) >= 128 && meta.getInt(1) >= 128)
    }
    // determinism: same payload → same fingerprint
    val fp1 = Multimodal.features(media).select("fp").collect().map(_.getLong(0))
    val fp2 = Multimodal.features(media).select("fp").collect().map(_.getLong(0))
    assert(fp1.toSeq === fp2.toSeq)
  }

  test("multimodal: frame sampling reassembles to a prefix of the payload") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(20)
    val media = Multimodal.mediaTable(docs)
    val frames = Multimodal.frames(media, n = 4)
      .orderBy("doc_id", "frame_idx").collect()
    val videos = media.filter(col("media_type") === "video")
      .select("doc_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(frames.nonEmpty)
    frames.groupBy(_.getLong(0)).foreach { case (id, fs) =>
      val joined = fs.sortBy(_.getInt(1)).flatMap(_.getAs[Array[Byte]](2))
      val payload = videos(id)
      assert(joined.length <= payload.length)
      assert(joined.toSeq === payload.take(joined.length).toSeq)
      assert(fs.forall(_.getLong(4) > 0))
    }
  }
}

object StreamingMultimodalSpec {
  /** Driver-side collector for foreachBatch output across query restarts. */
  val sink = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
}
