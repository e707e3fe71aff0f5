package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-independent digest of a pair set: row count plus the sum of the
  * low 32 bits of each row's xxhash64. */
final case class Digest(rows: Long, hash: Long)

object Digest {
  /** Runs the aggregate (the action that executes `df`) and returns the
    * digest with the aggregate's DataFrame, whose executed plan carries
    * the SQL metrics of the whole query. */
  def of(df: DataFrame, a: String, b: String): (Digest, DataFrame) = {
    val q = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(col(a), col(b)).bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)))
    val r = q.collect()(0)
    (Digest(r.getLong(0), r.getLong(1)), q)
  }
}

/** Unit and direction of a metric. */
final case class MetricDef(name: String, unit: String, better: String)

/**
 * State of one benchmark run: the seed and scale, timing samples, per-layer
 * values, operation counts and recorded decisions.
 *
 * Samples from untraced repetitions feed the end-to-end metrics; per-layer
 * values are only taken in traced repetitions.
 */
final class Ctx(val spark: SparkSession, val seed: Long, val scale: Double, val dataDir: String,
                val tracer: Tracer, val meter: SparkMeter) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  var rep = -1
  def traced: Boolean = tracer.on
  /** Summed wall time of the operations of the current repetition. */
  var repOpSecs = 0.0

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private val badReps = mutable.Set.empty[Int]
  private val samples = mutable.ArrayBuffer.empty[(Int, Boolean, String, Double)]
  val inputs = mutable.LinkedHashMap.empty[String, Long]
  /** Per-layer values measured once per run, after the measurement loop. */
  val finals = mutable.LinkedHashMap.empty[String, Double]
  val decisions = mutable.LinkedHashMap.empty[String, String]

  def rows(base: Long): Long = math.max(1000L, (base * scale).toLong)

  /** A timing or value sample of the current repetition. */
  def sample(name: String, v: Double): Unit = samples += ((rep, traced, name, v))

  /** A per-layer value: kept only in traced repetitions. */
  def layer(name: String, v: Double): Unit = if (traced) sample(name, v)

  /** Samples of the measured repetitions (repetition 0 is the warm-up). */
  def values(name: String, tracedReps: Boolean): Seq[Double] =
    samples.collect { case (r, t, n, v) if r > 0 && n == name && t == tracedReps && !badReps(r) => v }.toSeq

  /**
   * A timed operation. A throw counts as a failed operation and yields
   * None: the time to failure is never recorded as a result.
   */
  def op[T](name: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name)(body)
      val secs = (System.nanoTime() - t0) / 1e9
      repOpSecs += secs
      System.err.println(f"[perfbench] rep $rep%d $name%s ${secs * 1e3}%.1f ms")
      Some((r, secs))
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name: ${e.toString.take(400)}"
        badReps += rep
        System.err.println(s"[perfbench] operation $name failed: $e")
        None
    }
  }

  /** A correctness check. A failed check fails the run and discards the
    * samples of the repetition it checked. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += s"$name: $detail"
      badReps += rep
      System.err.println(s"[perfbench] check $name failed: $detail")
    }
  }

  /** Wall time of `body` in milliseconds, as a traced span. */
  def timeMs[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Listener totals of the most recent span with this name. */
  def lastSpanSpark(name: String): Option[SpanSpark] = {
    org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
    tracer.spans.reverseIterator.find(_.name == name).map(SpanSpark.of(meter, tracer, _))
  }
}

/** A set of timed operations over inputs of its own. */
trait Part {
  /** Writes the inputs to parquet; runs several times to time set-up. */
  def setup(ctx: Ctx): Unit
  /** One repetition of the timed operations. */
  def rep(ctx: Ctx): Unit
  /** Untimed output checks after the measurement loop. */
  def verify(ctx: Ctx): Unit
  /** Input tables and the columns that fingerprint them. */
  def tables(ctx: Ctx): Seq[(String, Seq[String])]
  /** Input rows one repetition's operations consume. */
  def rowsPerRep(ctx: Ctx): Long
}

/** One benchmark workload: what `--workload` names. */
trait Workload extends Part {
  def name: String
  /** Name of the sample that is the workload's headline throughput. */
  def mainSample: String
}

/** A workload made of several parts, run one after the other in each
  * repetition. Its headline throughput is the parts' input rows per
  * second of operation time. */
final class Composite(val name: String, parts: Seq[Part]) extends Workload {
  val mainSample = s"${name}_rows_per_s"
  def setup(ctx: Ctx): Unit = parts.foreach(_.setup(ctx))
  def rep(ctx: Ctx): Unit = {
    val failedBefore = ctx.failed
    parts.foreach(_.rep(ctx))
    if (ctx.failed == failedBefore) ctx.sample(mainSample, rowsPerRep(ctx) / ctx.repOpSecs)
  }
  def verify(ctx: Ctx): Unit = parts.foreach(_.verify(ctx))
  def tables(ctx: Ctx): Seq[(String, Seq[String])] = parts.flatMap(_.tables(ctx))
  def rowsPerRep(ctx: Ctx): Long = parts.map(_.rowsPerRep(ctx)).sum
}

object Workload {
  /** Content fingerprint of a workload's inputs: the same for one seed,
    * different for another. */
  def fingerprint(ctx: Ctx, w: Workload): String = w.tables(ctx).map { case (path, cols) =>
    val r = ctx.spark.read.parquet(path)
      .agg(count(lit(1)), coalesce(sum(xxhash64(cols.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)))
      .collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}"
  }.mkString(",")
}
