package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the id
  * of the span that caused this one (0 for an op's root span). */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, op: Int)

/** Collects the traced run's spans and counters from Spark's public
  * instrumentation: SparkListener events (jobs, stages, tasks), the
  * QueryExecutionListener (planning phases and the executed plan of every
  * action) and CodegenMetrics. Registered only when tracing is on.
  *
  * Listener callbacks arrive on Spark's listener-bus thread. The harness
  * calls [[drain]] after each op, which waits for a marker job, so every
  * event of an op has been counted before the next op starts. */
final class Tracer(spark: org.apache.spark.sql.SparkSession)
    extends SparkListener with QueryExecutionListener {

  private val MarkerGroup = "perfbench-marker"
  private var nextId = 1L
  private var op = -1
  private var buildSpan = 0L
  private var actionSpan = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Counters of the current op, by per-layer metric name. */
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val taskMs = mutable.ArrayBuffer.empty[Double]
  private val jobStart = mutable.Map.empty[Int, (Long, Long)] // job -> (span id, start)
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Long] // stage -> job span id
  @volatile private var markerSeen = false

  def newId(): Long = synchronized { nextId += 1; nextId }

  def span(id: Long, name: String, start: Double, end: Double,
      parent: Long): Unit =
    synchronized { spans += Span(id, name, start, end, parent, op) }

  /** Start attributing events to op `i`, whose build and action spans
    * have the given ids. */
  def beginOp(i: Int, build: Long, action: Long): Unit = synchronized {
    op = i; buildSpan = build; actionSpan = action
    counts.clear(); taskMs.clear(); jobIntervals.clear()
  }

  // ---- jobs, stages, tasks ----

  private def isMarker(props: java.util.Properties): Boolean =
    props != null && props.getProperty("spark.jobGroup.id") == MarkerGroup

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (!isMarker(e.properties)) {
      val id = newId()
      jobStart(e.jobId) = (id, e.time)
      e.stageIds.foreach(s => stageJob(s) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId) match {
      case Some((id, t0)) =>
        spans += Span(id, "job", t0, e.time, actionSpan, op)
        jobIntervals += ((t0, e.time))
        counts("driver.jobs") += 1
      case None => markerSeen = true
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      stageJob.remove(si.stageId).foreach { job =>
        val t0 = si.submissionTime.getOrElse(0L).toDouble
        spans += Span(newId(), "stage", t0,
          si.completionTime.getOrElse(t0.toLong).toDouble, job, op)
        counts("exec.stages") += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId)) {
      counts("exec.tasks") += 1
      if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful)
        counts("exec.task_retries") += 1
      taskMs += e.taskInfo.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        counts("exec.run_ms") += m.executorRunTime
        counts("exec.cpu_ms") += m.executorCpuTime / 1e6
        counts("exec.gc_ms") += m.jvmGCTime
        counts("exchange.write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counts("exchange.read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counts("exchange.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        counts("exchange.spill_bytes") += m.diskBytesSpilled
        counts("scan.bytes") += m.inputMetrics.bytesRead
        counts("scan.rows") += m.inputMetrics.recordsRead
      }
    }
  }

  // ---- planning phases and executed plans of every action ----

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized { addPlan(qe) }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized { addPlan(qe) }

  /** Planning phases of `qe` and the exchanges and scans its executed
    * plan ran. Also called for the op's own DataFrame, whose analysis
    * runs when the query is built. */
  def addPlan(qe: QueryExecution, phasesOnly: Boolean = false): Unit =
    synchronized {
      val phases = qe.tracker.phases
      Seq("analysis" -> "driver.analysis_ms",
          "optimization" -> "driver.optimizer_ms",
          "planning" -> "driver.planning_ms").foreach { case (p, k) =>
        phases.get(p).foreach(s => counts(k) += s.durationMs)
      }
      if (!phasesOnly) {
        val nodes = Tracer.nodes(qe.executedPlan)
        counts("plan.exchanges") += nodes.count {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
          case _ => false
        }
        counts("plan.scans") += nodes.count(_.isInstanceOf[FileSourceScanLike])
      }
    }

  /** Waits until every event the op posted has been delivered: a marker
    * job is posted after them on the same bus. */
  def drain(): Unit = {
    markerSeen = false
    val sc = spark.sparkContext
    sc.setJobGroup(MarkerGroup, "marker", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Closes the current op: derived per-op metrics from its intervals.
    * Jobs that started before the action (a query that materializes
    * part of itself while it is built) become children of the build. */
  def endOp(opStart: Double, actionStart: Double): Map[String, Double] = synchronized {
    spans.indices.foreach { i =>
      val s = spans(i)
      if (s.op == op && s.name == "job" && s.start < actionStart)
        spans(i) = s.copy(parent = buildSpan)
    }
    val sorted = jobIntervals.sortBy(_._1)
    if (sorted.nonEmpty)
      counts("driver.first_job_wait_ms") = sorted.head._1 - opStart
    // gaps: time between the first job's start and the last job's end
    // that no job covers
    var gap = 0.0
    var reach = if (sorted.isEmpty) 0L else sorted.head._2
    sorted.drop(1).foreach { case (s, e) =>
      if (s > reach) gap += s - reach
      reach = math.max(reach, e)
    }
    counts("driver.job_gap_ms") = gap
    if (taskMs.nonEmpty) {
      val t = taskMs.sorted
      counts("exec.task_p50_ms") = t(t.size / 2)
      counts("exec.task_max_ms") = t.last
    }
    counts.toMap
  }
}

object Tracer {
  /** Every node of an executed plan, looking through adaptive plans and
    * query stages and into subqueries; a reused exchange is not
    * descended into, so each exchange counts once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
