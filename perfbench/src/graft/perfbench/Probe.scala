package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Listener totals for the Spark jobs of one job group (one span). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var maxTaskShuffleReadBytes = 0L
  var writeJobs = 0L
  var writeCmdMs = 0L
  /** Summed wall time of the group's jobs, start to end. */
  var jobMs = 0L
  /** (launch, finish) epoch millis of every task. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** stage id -> task durations (ms). */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/**
 * SparkListener that files every job, stage and task under the job group
 * active when its action started (the benchmark sets one group per span),
 * plus the wall time of SQL executions that run a file write.
 */
final class SparkMeter extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val writeExecs = mutable.Map.empty[Long, (String, Long)]
  private val writeExecIds = mutable.Set.empty[Long]
  private val jobStarts = mutable.Map.empty[Int, (String, Long)]

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val s = stats(g)
    s.jobs += 1
    s.stages += e.stageInfos.size
    e.stageInfos.foreach(i => stageGroup(i.stageId) = g)
    jobStarts(e.jobId) = (g, e.time)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    if (exec.exists(writeExecIds.contains)) s.writeJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (g, t0) => stats(g).jobMs += e.time - t0 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    if (!e.taskInfo.successful) s.taskFailures += 1
    s.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.maxTaskShuffleReadBytes = math.max(s.maxTaskShuffleReadBytes, m.shuffleReadMetrics.totalBytesRead)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") => synchronized {
      writeExecIds += s.executionId
      writeExecs(s.executionId) = (s.jobGroupId.getOrElse(""), s.time)
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      writeExecs.remove(end.executionId).foreach { case (g, t0) => stats(g).writeCmdMs += end.time - t0 }
    }
    case _ =>
  }

  def snapshot(gs: Iterable[String]): Seq[GroupStats] = synchronized {
    gs.flatMap(groups.get).toSeq
  }
}

/** One timed region of the benchmark's own code. Times are epoch millis
  * (fractional) so they line up with task launch/finish times. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, var endMs: Double) {
  def ms: Double = endMs - startMs
}

/**
 * Span recorder. When tracing is on, every span sets a Spark job group
 * named after its id, so the listener attaches each job to the span whose
 * action caused it. When it is off, `span` only runs the body.
 */
final class Tracer(sc: SparkContext, var on: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def group(id: Int): String = s"pb-$id"

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, nowMs, Double.NaN)
      spans += s
      stack.push(s)
      sc.setJobGroup(group(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = nowMs
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def subtree(id: Int): Seq[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id).toSeq
    id +: kids.flatMap(subtree)
  }

  def selfMs(s: Span): Double = s.ms - spans.filter(_.parent == s.id).map(_.ms).sum
}

/** Listener totals of a set of job groups. */
final case class SpanSpark(jobs: Long, stages: Long, tasks: Long, taskFailures: Long,
                           cpuS: Double, gcS: Double, fetchWaitS: Double,
                           shuffleWriteBytes: Long, spillBytes: Long, maxTaskShuffleReadBytes: Long,
                           writeJobs: Long, writeCmdS: Double, busyS: Double, taskSkew: Double,
                           jobS: Double)

object SpanSpark {
  /** Totals over a span and its descendants. */
  def of(meter: SparkMeter, tracer: Tracer, span: Span): SpanSpark =
    of(meter, tracer.subtree(span.id).map(tracer.group))

  def of(meter: SparkMeter, groups: Seq[String]): SpanSpark = {
    val gs = meter.snapshot(groups)
    val spansMs = gs.flatMap(_.taskSpans).sortBy(_._1)
    // union of task intervals: wall time with at least one task running
    var busy = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spansMs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    // skew of the stage that holds the most task time (the join/aggregate
    // stage, not the scan-side map stage of a tiny build)
    val stage = gs.flatMap(_.stageTaskMs.values).filter(_.nonEmpty).sortBy(-_.sum).headOption
    val skew = stage.map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }.getOrElse(0.0)
    SpanSpark(gs.map(_.jobs).sum, gs.map(_.stages).sum, gs.map(_.tasks).sum, gs.map(_.taskFailures).sum,
      gs.map(_.cpuNs).sum / 1e9, gs.map(_.gcMs).sum / 1e3, gs.map(_.fetchWaitMs).sum / 1e3,
      gs.map(_.shuffleWriteBytes).sum, gs.map(_.spillBytes).sum,
      if (gs.isEmpty) 0L else gs.map(_.maxTaskShuffleReadBytes).max,
      gs.map(_.writeJobs).sum, gs.map(_.writeCmdMs).sum / 1e3, busy / 1e3, skew, gs.map(_.jobMs).sum / 1e3)
  }
}

/** Walks an executed plan, including the final plan of adaptive execution
  * and the plans inside its query stages. */
object PlanWalk {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r) // metrics live on the original exchange
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  def metric(n: SparkPlan, key: String): Long = n.metrics.get(key).map(_.value).getOrElse(0L)

  def sum(ns: Seq[SparkPlan], key: String): Long = ns.map(metric(_, key)).sum

  def scans(ns: Seq[SparkPlan]): Seq[FileSourceScanExec] =
    ns.collect { case s: FileSourceScanExec => s }

  /** Number of top-level entries of a `[a, f(b, c), d]` plan metadata list. */
  def listSize(s: String): Int = {
    val body = s.trim.stripPrefix("[").stripSuffix("]").trim
    if (body.isEmpty) 0
    else {
      var depth = 0; var n = 1
      body.foreach {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 => n += 1
        case _ =>
      }
      n
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (the numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
