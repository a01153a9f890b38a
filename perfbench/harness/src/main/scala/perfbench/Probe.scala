package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer observation from outside the engine, for traced runs only.
  *
  * A [[SparkListener]] records every job (start/end), stage (submit time,
  * first task launch) and task (run time, CPU time, shuffle, spill, result
  * bytes). A [[QueryExecutionListener]] records each executed query's
  * Catalyst phase intervals from its planning tracker and its final plan's
  * exchange and broadcast-join census. Events are attributed to an
  * operation by time window: the client is a single closed loop, so the
  * window [op start, op end] holds only that operation's work. The
  * listener bus is drained before an operation is accounted. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private case class Job(start: Long, var end: Long, stages: Seq[Int])
  private final class Stage {
    var submitted = -1L; var firstLaunch = Long.MaxValue; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var shuffleW = 0L; var shuffleR = 0L
    var spill = 0L; var resultBytes = 0L
  }
  private case class Query(qe: QueryExecution, phases: Seq[(String, Long, Long)])

  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val submittedStages = mutable.Set.empty[Int]
  private val queries = mutable.ArrayBuffer.empty[Query]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    submittedStages += e.stageInfo.stageId
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val s = stage(e.stageId)
    s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleW += m.shuffleWriteMetrics.bytesWritten
      s.shuffleR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.resultBytes += m.resultSize
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    synchronized { queries += Query(qe, ph) }
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); submittedStages.clear(); queries.clear()
  }

  /** Layer accounting of one operation. `marks` are the harness's own
    * phase boundaries on the epoch-ms clock: (name, start, end) for the
    * library call ("build"), forced Catalyst phases ("analyze",
    * "optimize", "plan") and the action ("action"). `forced` is the
    * QueryExecution whose phases the harness forced itself. */
  def account(t0: Double, t1: Double, marks: Seq[(String, Double, Double)],
      forced: Option[QueryExecution]): Map[String, Double] = synchronized {
    def inWin(t: Double) = t >= t0 - 1 && t <= t1 + 1
    val opJobs = jobs.values.filter(j => inWin(j.start.toDouble)).toSeq
    val jobIv = opJobs.map(j => (j.start.toDouble,
      if (j.end >= 0) j.end.toDouble else t1))
    val opStages = opJobs.flatMap(_.stages).distinct
      .filter(submittedStages.contains).map(stages)
    val opQueries = queries.filter(q => q.phases.exists(p => inWin(p._2.toDouble))).toSeq
    val innerPhases = opQueries.filterNot(q => forced.exists(_ eq q.qe))
      .flatMap(_.phases).map { case (n, a, b) => (n, a.toDouble, b.toDouble) }
    val forcedAnalysis = forced.toSeq.flatMap(_.tracker.phases.get("analysis"))
      .map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    // union of intervals, clipped to [lo, hi]
    def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
      val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
      c.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) total += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) total += curB - curA
      total
    }
    def phaseSum(name: String) = innerPhases.filter(_._1 == name)
      .map(p => p._3 - p._2).sum
    def mark(name: String) = marks.filter(_._1 == name).map(m => m._3 - m._2).sum
    val innerCat = innerPhases.map(p => (p._2, p._3))
    // layer time inside one harness span: span − jobs − inner Catalyst
    def rest(span: String, extraCat: Seq[(Double, Double)]) =
      marks.filter(_._1 == span).map { case (_, a, b) =>
        (b - a) - covered(jobIv ++ innerCat ++ extraCat, a, b)
      }.sum
    val analyzeMs = mark("analyze") + phaseSum("analysis") +
      forcedAnalysis.map(p => p._2 - p._1).sum
    val optimizeMs = mark("optimize") + phaseSum("optimization")
    val planMs = mark("plan") + phaseSum("planning")
    val buildMs = rest("build", forcedAnalysis)
    val gapMs = rest("action", Nil)
    val jobWallMs = covered(jobIv, t0, t1)
    val wallMs = t1 - t0
    // a query that failed before planning has no plan to count
    val (exchanges, bhj) = opQueries
      .flatMap(q => scala.util.Try(PlanCensus(q.qe.executedPlan)).toOption)
      .foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Map(
      "build_s" -> buildMs / 1e3,
      "catalyst.analyze_s" -> analyzeMs / 1e3,
      "catalyst.optimize_s" -> optimizeMs / 1e3,
      "catalyst.plan_s" -> planMs / 1e3,
      "exec.job_wall_s" -> jobWallMs / 1e3,
      "exec.driver_gap_s" -> gapMs / 1e3,
      "exec.jobs" -> opJobs.size.toDouble,
      "exec.stages" -> opStages.size.toDouble,
      "exec.tasks" -> opStages.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> opStages.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> opStages.map(_.cpuNs).sum / 1e9,
      "exec.core_busy_frac" -> (if (wallMs > 0) opStages.map(_.runMs).sum /
        (wallMs * Probe.cores) else 0.0),
      "exec.sched_wait_s" -> opStages.filter(s => s.submitted >= 0 &&
        s.firstLaunch != Long.MaxValue).map(s => math.max(0L, s.firstLaunch - s.submitted)).sum / 1e3,
      "exec.shuffle_write_bytes" -> opStages.map(_.shuffleW).sum.toDouble,
      "exec.shuffle_read_bytes" -> opStages.map(_.shuffleR).sum.toDouble,
      "exec.spill_bytes" -> opStages.map(_.spill).sum.toDouble,
      "exec.result_bytes" -> opStages.map(_.resultBytes).sum.toDouble,
      "plan.exchanges" -> exchanges.toDouble,
      "plan.broadcast_joins" -> bhj.toDouble)
  }
}

object Probe {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Wall clock in fractional epoch milliseconds (Spark's event clock is
    * epoch ms; nanoTime gives the fraction). */
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Exchange and broadcast-join census of a final physical plan, looking
  * through adaptive query stages and subqueries. */
object PlanCensus extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): (Int, Int) = {
    val ex = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
    val bj = collectWithSubqueries(p) {
      case j: BroadcastHashJoinExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }.size
    (ex, bj)
  }
}
