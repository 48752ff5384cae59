package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

final case class JobSpan(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

final case class StageSpan(id: Int, attempt: Int, name: String,
                           startMs: Long, endMs: Long, tasks: Int)

/** What the listeners saw while one phase of one operation ran. Written
  * by the listener-bus thread, read by the harness after a drain. */
final class PhaseLog {
  private var taskSums = TaskSums()
  private val jobStarts = scala.collection.mutable.LinkedHashMap[Int, (Long, Seq[Int])]()
  private val jobEnds = scala.collection.mutable.Map[Int, Long]()
  private val stageBuf = ArrayBuffer[StageSpan]()
  private val qeBuf = ArrayBuffer[QueryExecution]()

  def addTask(t: TaskSums): Unit = synchronized { taskSums = taskSums + t }
  def jobStart(id: Int, t: Long, stages: Seq[Int]): Unit =
    synchronized { jobStarts(id) = (t, stages) }
  def jobEnd(id: Int, t: Long): Unit = synchronized { jobEnds(id) = t }
  def stage(s: StageSpan): Unit = synchronized { stageBuf += s }
  def qe(q: QueryExecution): Unit = synchronized { qeBuf += q }
  /** Hands over the query executions seen so far and forgets them: a
    * finished plan can pin broadcast relations, so none outlives its
    * operation. */
  def takeQueryExecutions(): Seq[QueryExecution] = synchronized {
    val r = qeBuf.toSeq; qeBuf.clear(); r
  }

  def tasks: TaskSums = synchronized { taskSums }
  def jobCount: Int = synchronized { jobStarts.size }
  /** Jobs that started in this phase; one still open at the drain (none
    * should be) is closed at `closeMs`. */
  def jobs(closeMs: Long): Seq[JobSpan] = synchronized {
    jobStarts.toSeq.map { case (id, (s, st)) =>
      JobSpan(id, s, jobEnds.getOrElse(id, closeMs), st) }
  }
  def stages: Seq[StageSpan] = synchronized { stageBuf.toSeq }
}

/** One listener for both buses. It records task counters, jobs, stages
  * and query executions into the open phase, and only while `traced` is
  * set: an untraced run keeps nothing. */
final class LayerListener extends SparkListener with QueryExecutionListener {

  @volatile var traced: Boolean = false
  @volatile private var current: PhaseLog = null

  def open(): PhaseLog = { val l = new PhaseLog; current = l; l }
  def close(): Unit = current = null

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val l = current
    if (traced && l != null) l.addTask(TaskSums.of(e.taskMetrics))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val l = current
    if (traced && l != null) l.jobStart(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val l = current
    if (traced && l != null) l.jobEnd(e.jobId, e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val l = current
    val i = e.stageInfo
    if (traced && l != null) l.stage(StageSpan(i.stageId, i.attemptNumber(),
      i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val l = current
    if (traced && l != null) l.qe(qe)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)
}

/** Planning-phase times and final-plan shape of one query execution. */
final case class PlanStats(analysisMs: Long, optimizationMs: Long, planningMs: Long,
                           exchanges: Int, codegenStages: Int,
                           phases: Seq[(String, Long, Long)]) {
  def +(o: PlanStats): PlanStats = PlanStats(
    analysisMs + o.analysisMs, optimizationMs + o.optimizationMs,
    planningMs + o.planningMs, exchanges + o.exchanges,
    codegenStages + o.codegenStages, phases ++ o.phases)
}

object PlanStats {
  val empty: PlanStats = PlanStats(0L, 0L, 0L, 0, 0, Nil)

  /** Tracker phases only: for a Dataset that was built but never executed
    * by itself, whose analysis still ran eagerly. */
  def phasesOf(qe: QueryExecution): PlanStats = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    PlanStats(ms("analysis"), ms("optimization"), ms("planning"), 0, 0,
      ph.toSeq.map { case (k, s) => (k, s.startTimeMs, s.endTimeMs) }.sortBy(_._2))
  }

  /** Tracker phases plus exchange and whole-stage-codegen counts in the
    * final (post-AQE) physical plan, subqueries included. A reused
    * exchange is not counted again. */
  def of(qe: QueryExecution): PlanStats = {
    var exchanges = 0
    var codegen = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: Exchange => exchanges += 1
        case _: WholeStageCodegenExec => codegen += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    phasesOf(qe).copy(exchanges = exchanges, codegenStages = codegen)
  }
}
