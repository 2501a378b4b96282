package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side records. Every callback runs on Spark's listener bus
  * thread and only appends; the harness reads the queues after
  * `spark.stop()`, which drains the bus, so nothing is lost or raced.
  * Times are epoch milliseconds, the clock the events carry.
  */
final case class JobRec(jobId: Int, group: String, startMs: Long, endMs: Long,
    stageIds: Seq[Int])
final case class StageRec(stageId: Int, startMs: Long, endMs: Long)
final case class TaskRec(stageId: Int, failed: Boolean, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    input: Long, output: Long)
final case class PlanRec(startMs: Long, phasesMs: Map[String, Long],
    exchanges: Int, broadcastJoins: Int)
final case class BatchRec(atMs: Long, inputRows: Long, durationsMs: Map[String, Long])

/** The benchmark's own probes into Spark: one `SparkListener` for job,
  * stage and task metrics, one `QueryExecutionListener` for planning
  * phases and final-plan node counts, and one `StreamingQueryListener`
  * for per-micro-batch durations. Registered only on traced runs.
  */
final class Probe {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts.put(e.jobId, (group, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (g, t0, ids) =>
        jobs.add(JobRec(e.jobId, g, t0, e.time, ids))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      if (m == null) tasks.add(TaskRec(e.stageId, failed, 0, 0, 0, 0, 0, 0, 0, 0))
      else tasks.add(TaskRec(e.stageId, failed, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.diskBytesSpilled + m.memoryBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val start = if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.startTimeMs).min
      val (ex, bhj) = countNodes(qe.executedPlan)
      plans.add(PlanRec(start, phases.map { case (k, v) => k -> v.durationMs }, ex, bhj))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(BatchRec(at, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  /** (exchanges, broadcast hash joins) of a final physical plan, looking
    * through adaptive wrappers, query stages and subqueries.
    */
  private def countNodes(plan: SparkPlan): (Int, Int) = {
    var ex, bhj = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        other match {
          case _: ShuffleExchangeExec | _: ReusedExchangeExec => ex += 1
          case _: BroadcastHashJoinExec => bhj += 1
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    try walk(plan) catch { case _: Throwable => () }
    (ex, bhj)
  }
}
