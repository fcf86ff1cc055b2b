package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a layer boundary. `parent` is the id of
  * the span that caused it (0 for the root). Times are epoch milliseconds,
  * the clock Spark's listener events carry.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Long, end: Long)

/** Raw listener events, kept until a pass is aggregated. */
object Trace {
  private[perfbench] final case class Job(id: Int, start: Long,
      stageIds: Seq[Int], @volatile var end: Long = -1L)
  private[perfbench] final case class Stage(id: Int, start: Long, end: Long,
      tasks: Int, failed: Boolean)
  private[perfbench] final case class Task(launch: Long, ok: Boolean, runMs: Long,
      cpuNs: Long, gcMs: Long, deserMs: Long, shufWrite: Long, shufRead: Long,
      fetchWaitMs: Long, spillMem: Long, spillDisk: Long, inRows: Long,
      inBytes: Long, outRows: Long, outBytes: Long)
  private[perfbench] final case class Qe(at: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, exchanges: Int, reused: Int, files: Long)
}

/** The traced run's recorder: a SparkListener for jobs, stages and tasks
  * plus a QueryExecutionListener for Catalyst phases and plan shape, both
  * registered from the benchmark's own code. Events and spans stay in
  * memory; [[passLayers]] turns one pass's share of them into per-layer
  * numbers, and [[allSpans]] links job and stage spans under the
  * benchmark's own workload/setup/pass/query/build/action spans.
  */
final class Trace(cpus: Int) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Trace._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val own = new ConcurrentLinkedQueue[Span]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Opens a span of the benchmark's own; returns its id for [[end]]. */
  def begin(parent: Long, layer: String, name: String): Long = {
    val id = ids.incrementAndGet()
    open.put(id, Span(id, parent, layer, name, System.currentTimeMillis(), -1L))
    id
  }

  def end(id: Long): Unit =
    own.add(open.remove(id).copy(end = System.currentTimeMillis()))

  /** Records a span of the benchmark's own around `body`. */
  def span[A](parent: Long, layer: String, name: String)(body: Long => A): A = {
    val id = begin(parent, layer, name)
    try body(id) finally end(id)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(Stage(i.stageId, s, c, i.numTasks, i.failureReason.isDefined))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ok = e.reason == Success
    if (m == null) tasks.add(Task(e.taskInfo.launchTime, ok, 0, 0, 0, 0, 0, 0,
      0, 0, 0, 0, 0, 0, 0))
    else tasks.add(Task(e.taskInfo.launchTime, ok, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled,
      m.diskBytesSpilled, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val at = phases.values.map(_.endTimeMs).foldLeft(0L)(math.max)
    qes.add(Qe(if (at > 0) at else System.currentTimeMillis(),
      ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION),
      ms(QueryPlanningTracker.PLANNING),
      collectWithSubqueries(plan) { case _: Exchange => 1 }.size,
      collectWithSubqueries(plan) { case _: ReusedExchangeExec => 1 }.size,
      collectWithSubqueries(plan) { case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum))
  }

  private def within(t: Long, a: Long, b: Long): Boolean = t >= a && t <= b

  /** Length of the union of `ivs` clipped to [a, b]. */
  private def covered(ivs: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var cur = (-1L, -1L)
    clipped.foreach { case (s, e) =>
      if (s > cur._2) { total += cur._2 - cur._1; cur = (s, e) }
      else cur = (cur._1, math.max(cur._2, e))
    }
    total + (cur._2 - cur._1)
  }

  private def jobIntervals: Seq[(Long, Long)] =
    jobs.values.asScala.toSeq.filter(_.end >= 0).map(j => (j.start, j.end))

  /** Per-layer numbers for one pass spanning [a, b] (epoch ms) of `wallS`
    * seconds; `queries` are the pass's query spans, whose time not covered
    * by any Spark job is the driver's idle time, and `builderAnalysisMs`
    * the analysis time of the builders' own (never executed) plans.
    */
  def passLayers(a: Long, b: Long, wallS: Double, queries: Seq[Span],
      builderAnalysisMs: Long): Map[String, Double] = {
    val js = jobs.values.asScala.filter(j => within(j.start, a, b)).toSeq
    val ss = stages.asScala.filter(s => within(s.start, a, b)).toSeq
    val ts = tasks.asScala.filter(t => within(t.launch, a, b)).toSeq
    val qs = qes.asScala.filter(q => within(q.at, a, b)).toSeq
    val mb = 1024.0 * 1024.0
    def sumT(f: Task => Long): Double = ts.map(f).sum.toDouble
    val runS = sumT(_.runMs) / 1000
    val ivs = jobIntervals
    Map(
      "catalyst.analysis_s" ->
        (qs.map(_.analysisMs).sum + builderAnalysisMs) / 1000.0,
      "catalyst.optimization_s" -> qs.map(_.optimizationMs).sum / 1000.0,
      "catalyst.planning_s" -> qs.map(_.planningMs).sum / 1000.0,
      "catalyst.query_executions" -> qs.size.toDouble,
      "plans.exchanges" -> qs.map(_.exchanges).sum.toDouble,
      "plans.reused_exchanges" -> qs.map(_.reused).sum.toDouble,
      "sched.jobs" -> js.size.toDouble,
      "sched.stages" -> ss.size.toDouble,
      "sched.tasks" -> ss.map(_.tasks).sum.toDouble,
      "sched.tasks_per_stage" ->
        (if (ss.isEmpty) 0.0 else ss.map(_.tasks).sum.toDouble / ss.size),
      "sched.job_s" -> js.filter(_.end >= 0).map(j => j.end - j.start).sum / 1000.0,
      "sched.driver_idle_s" -> queries.map(q =>
        (q.end - q.start) - covered(ivs, q.start, q.end)).sum / 1000.0,
      "sched.failed_stages" -> ss.count(_.failed).toDouble,
      "exec.run_s" -> runS,
      "exec.cpu_s" -> sumT(_.cpuNs) / 1e9,
      "exec.gc_s" -> sumT(_.gcMs) / 1000,
      "exec.deserialize_s" -> sumT(_.deserMs) / 1000,
      "exec.busy_frac" -> (if (wallS > 0) runS / (wallS * cpus) else 0.0),
      "exec.failed_tasks" -> ts.count(!_.ok).toDouble,
      "shuffle.write_mb" -> sumT(_.shufWrite) / mb,
      "shuffle.read_mb" -> sumT(_.shufRead) / mb,
      "shuffle.fetch_wait_s" -> sumT(_.fetchWaitMs) / 1000,
      "spill.mem_mb" -> sumT(_.spillMem) / mb,
      "spill.disk_mb" -> sumT(_.spillDisk) / mb,
      "sources.scan_rows" -> sumT(_.inRows),
      "sources.scan_mb" -> sumT(_.inBytes) / mb,
      "sources.write_rows" -> sumT(_.outRows),
      "sources.write_mb" -> sumT(_.outBytes) / mb,
      "sources.files_written" -> qs.map(_.files).sum.toDouble)
  }

  /** Every span: the benchmark's own plus one per Spark job (parented to
    * the deepest own span containing its start) and one per completed
    * stage (parented to the job that submitted it).
    */
  def ownSpans: Seq[Span] = own.asScala.toSeq

  def allSpans: Seq[Span] = {
    val mine = ownSpans
    val depth = Map("workload" -> 0, "setup" -> 1, "pass" -> 1, "query" -> 2,
      "build" -> 3, "action" -> 3)
    def home(t: Long): Long = mine.filter(s => within(t, s.start, s.end))
      .sortBy(s => -depth.getOrElse(s.layer, 0)).headOption.map(_.id)
      .getOrElse(0L)
    val jobSpans = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      j -> Span(ids.incrementAndGet(), home(j.start), "job", s"job ${j.id}",
        j.start, if (j.end >= 0) j.end else j.start)
    }
    val stageSpans = stages.asScala.toSeq.map { s =>
      val parent = jobSpans.find { case (j, sp) =>
        j.stageIds.contains(s.id) && within(s.start, sp.start, sp.end)
      }.orElse(jobSpans.find(_._1.stageIds.contains(s.id)))
        .map(_._2.id).getOrElse(home(s.start))
      Span(ids.incrementAndGet(), parent, "stage", s"stage ${s.id}", s.start,
        s.end)
    }
    mine ++ jobSpans.map(_._2) ++ stageSpans
  }

  /** Self time per layer (seconds) summed over the spans descending from
    * `roots`: each span's duration minus the part its children cover.
    */
  def selfTimes(spans: Seq[Span], roots: Set[Long]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    def under(s: Span): Boolean =
      roots(s.id) || byId.get(s.parent).exists(under)
    spans.filter(under).groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        (s.end - s.start) - covered(c, s.start, s.end)
      }.sum / 1000.0
    }
  }
}
