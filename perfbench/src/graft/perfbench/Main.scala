package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Layered throughput benchmark, one workload per JVM:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *        --spec <BENCHMARK.json> --out <record.json> --work <dir>
 *        [--scale <f>] [--commit <sha>] [--source-sha <sha>]
 *
 * Writes one JSON record with every metric of the spec's catalog (value, unit,
 * direction, sample count), the inputs, the decisions the engine took and
 * the environment; with `--trace 1` also `<record>.spans.jsonl`. Exits 0
 * only if every operation and every output check succeeded.
 */
object Main {
  val Workloads: Seq[Workload] = Seq(PipW, new Composite("layout_dedup", Seq(LayoutRw, DedupW)))
  /** Timed set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Nominal wall time of one repetition: a run measures `--seconds`
    * divided by this many repetitions. */
  val RepSeconds = 10.0
  /** Per-layer metrics that are operation rates, taken from the untraced
    * repetitions. */
  private val UntracedNames = Set("pip_z2_rows_per_s", "pip_z2_salted_rows_per_s", "pip_s2_rows_per_s",
    "pip_hex_rows_per_s", "tile_rows_per_s", "write_rows_per_s", "stored_bytes_per_row", "minhash_docs_per_s",
    "embed_vecs_per_s")

  /** The metric catalog of BENCHMARK.json: (end-to-end, per-layer). */
  private def catalog(path: String): (Seq[MetricDef], Seq[MetricDef]) = {
    val spec = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))
    def field(m: JValue, k: String): String = m \ k match {
      case JString(v) => v
      case other => throw new IllegalArgumentException(s"$path: metric field $k is $other")
    }
    def defs(kind: String) = (spec \ kind).children.map(m => MetricDef(field(m, "name"), field(m, "unit"), field(m, "better")))
    (defs("end_to_end"), defs("per_layer"))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = Workloads.find(_.name == opt("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}; one of ${Workloads.map(_.name).mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val scale = opts.get("scale").map(_.toDouble).getOrElse(1.0)
    val (endToEnd, perLayer) = catalog(opt("spec"))
    val nproc = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(spark)
    val sc = spark.sparkContext

    val tracer = new Tracer(sc, on = false)
    val meter = new SparkMeter
    val ctx = new Ctx(spark, seed, scale, s"$work/data", tracer, meter)

    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body
      finally System.err.println(f"[perfbench] phase $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val setupSecs = (1 to Setups).map { i =>
      phase(s"setup $i") { val t0 = System.nanoTime(); w.setup(ctx); (System.nanoTime() - t0) / 1e9 }
    }

    // repetition 0 warms the JIT up and is not measured. A fixed number of
    // repetitions follows it, `seconds` worth at the nominal repetition
    // time: a time-bounded loop would measure a different point of the JIT
    // warm-up curve on every run. A traced run traces every second one.
    val measured = math.max(1, math.floor(seconds / RepSeconds).toInt)
    val fingerprint = Workload.fingerprint(ctx, w)
    var r = 0
    var untracedReps, tracedReps = 0
    while (r <= measured) {
      val traceThis = trace && r > 0 && r % 2 == 0
      ctx.rep = r
      ctx.repOpSecs = 0.0
      if (traceThis) { sc.addSparkListener(meter); tracer.on = true }
      val failedBefore = ctx.failed
      phase(s"rep $r")(tracer.span("rep")(w.rep(ctx)))
      if (ctx.failed == failedBefore) ctx.sample("pass_s", ctx.repOpSecs)
      if (traceThis) {
        repLayers(ctx, tracer.spans.reverseIterator.find(_.name == "rep").get)
        tracer.on = false
        sc.removeSparkListener(meter)
        tracedReps += 1
      } else untracedReps += 1
      r += 1
    }
    ctx.rep = -1
    phase("verify")(w.verify(ctx))

    val metrics = mutable.LinkedHashMap.empty[String, (MetricDef, Double, Int, String)]
    def put(d: MetricDef, xs: Seq[Double], kind: String): Unit =
      metrics(d.name) = (d, if (xs.isEmpty) 0.0 else Stats.median(xs), xs.size, kind)
    endToEnd.foreach { d =>
      put(d, d.name match {
        case "setup_s" => setupSecs
        case "throughput_rows_per_s" => ctx.values(w.mainSample, tracedReps = false)
        case "pass_s" => ctx.values("pass_s", tracedReps = false)
        case n => throw new IllegalArgumentException(s"no end-to-end metric $n")
      }, "end_to_end")
    }
    perLayer.foreach { d =>
      d.name match {
        case n if UntracedNames(n) => put(d, ctx.values(n, tracedReps = false), "per_layer")
        case "query_ms_p50" | "query_ms_p95" =>
          val xs = ctx.values("query_ms", tracedReps = false)
          val q = if (d.name.endsWith("p50")) 0.5 else 0.95
          metrics(d.name) = (d, if (xs.isEmpty) 0.0 else Stats.quantile(xs, q), xs.size, "per_layer")
        case "small_dedup_ms_p50" => put(d, ctx.values("small_dedup_ms", tracedReps = false), "per_layer")
        case "failed_ratio" =>
          metrics(d.name) = (d, ctx.failed.toDouble / math.max(1L, ctx.attempted), ctx.attempted.toInt, "per_layer")
        case "peak_rss_mb" => // the launcher measures it from the JVM's resource usage
        case "trace.overhead_pct" =>
          val on = ctx.values("pass_s", tracedReps = true)
          val off = ctx.values("pass_s", tracedReps = false)
          val v = if (on.isEmpty || off.isEmpty) 0.0 else (Stats.median(on) / Stats.median(off) - 1.0) * 100.0
          metrics(d.name) = (d, v, on.size + off.size, "per_layer")
        case "trace.spans" => metrics(d.name) = (d, tracer.spans.size.toDouble, 1, "per_layer")
        case n if ctx.finals.contains(n) => metrics(d.name) = (d, ctx.finals(n), 1, "per_layer")
        case n => put(d, ctx.values(n, tracedReps = true), "per_layer")
      }
    }

    val out = opt("out")
    val correct = ctx.failed == 0
    val rec = record(w, opts, seed, seconds, trace, scale, nproc, spark, tracer,
      ctx, untracedReps - 1, tracedReps, setupSecs, fingerprint, metrics.values.toSeq, correct)
    Files.write(Paths.get(out), (JsonMethods.pretty(rec) + "\n").getBytes(StandardCharsets.UTF_8))
    if (trace) Files.write(Paths.get(out + ".spans.jsonl"), spanLines(tracer, meter).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }

  /** Listener totals of one traced repetition. */
  private def repLayers(ctx: Ctx, rep: Span): Unit = {
    org.apache.spark.perfbench.BusShim.drain(ctx.spark.sparkContext)
    val s = SpanSpark.of(ctx.meter, ctx.tracer, rep)
    val wall = rep.ms / 1e3
    ctx.layer("spark.jobs", s.jobs.toDouble)
    ctx.layer("spark.stages", s.stages.toDouble)
    ctx.layer("spark.tasks", s.tasks.toDouble)
    ctx.layer("spark.task_failures", s.taskFailures.toDouble)
    ctx.layer("spark.task_cpu_s", s.cpuS)
    ctx.layer("spark.cpu_util", s.cpuS / (wall * ctx.nproc))
    ctx.layer("spark.gc_s", s.gcS)
    ctx.layer("spark.shuffle_fetch_wait_s", s.fetchWaitS)
    ctx.layer("spark.driver_gap_s", math.max(0.0, wall - s.busyS))
    ctx.layer("spark.shuffle_write_bytes", s.shuffleWriteBytes.toDouble)
    ctx.layer("spark.spill_bytes", s.spillBytes.toDouble)
  }

  private def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)
  private def str(s: String): JValue = JString(s)
  private def long(n: Long): JValue = JLong(n)

  private def record(w: Workload, opts: Map[String, String], seed: Long, seconds: Double, trace: Boolean,
                     scale: Double, nproc: Int, spark: SparkSession, tracer: Tracer, ctx: Ctx,
                     untracedReps: Int, tracedReps: Int, setupSecs: Seq[Double], fingerprint: String,
                     metrics: Seq[(MetricDef, Double, Int, String)], correct: Boolean): JValue = {
    val env = JObject(
      "nproc" -> long(nproc),
      "driver_heap_mb" -> long(Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "spark" -> str(spark.version),
      "scala" -> str(scala.util.Properties.versionNumberString),
      "jdk" -> str(System.getProperty("java.version")),
      "commit" -> opts.get("commit").map(str).getOrElse(JNull),
      "source_sha256" -> opts.get("source-sha").map(str).getOrElse(JNull))
    val ms = metrics.map { case (d, v, n, kind) =>
      d.name -> JObject("value" -> num(v), "unit" -> str(d.unit), "better" -> str(d.better),
        "samples" -> long(n), "kind" -> str(kind))
    }
    JObject(
      "workload" -> str(w.name), "seed" -> long(seed), "seconds" -> num(seconds),
      "trace" -> long(if (trace) 1 else 0), "scale" -> num(scale), "run_id" -> str(tracer.runId),
      "correct" -> JBool(correct), "attempted" -> long(ctx.attempted), "failed" -> long(ctx.failed),
      "failures" -> JArray(ctx.failures.map(str).toList),
      "inputs" -> JObject(ctx.inputs.toList.map { case (k, v) => k -> long(v) }),
      "inputs_fingerprint" -> str(fingerprint),
      "decisions" -> JObject(ctx.decisions.toList.map { case (k, v) => k -> str(v) }),
      "reps" -> JObject("untraced" -> long(untracedReps), "traced" -> long(tracedReps)),
      "setup_s_samples" -> JArray(setupSecs.map(num).toList),
      "env" -> env,
      "metrics" -> JObject(ms.toList))
  }

  /** One JSON line per span: timing, self time and the span's own
    * listener totals (jobs started while it was the innermost span). */
  private def spanLines(tracer: Tracer, meter: SparkMeter): String =
    tracer.spans.map { s =>
      val sp = SpanSpark.of(meter, Seq(tracer.group(s.id)))
      JsonMethods.compact(JObject("run_id" -> str(tracer.runId), "id" -> long(s.id), "parent" -> long(s.parent),
        "name" -> str(s.name), "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs),
        "self_ms" -> num(tracer.selfMs(s)),
        "spark" -> JObject("jobs" -> long(sp.jobs), "stages" -> long(sp.stages),
          "tasks" -> long(sp.tasks), "task_cpu_s" -> num(sp.cpuS),
          "shuffle_write_bytes" -> long(sp.shuffleWriteBytes), "spill_bytes" -> long(sp.spillBytes))))
    }.mkString("", "\n", "\n")
}
