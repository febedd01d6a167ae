package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what the Spark engine did while the traced rounds ran. Events
  * arrive on the listener bus and are kept raw, in memory; `Main` drains
  * the bus before it charges jobs to ops. A job is charged to the op named
  * by its `perfbench.op` local property, which the harness sets for each
  * op. Spark local properties pass to every thread started inside the op
  * (`graft.Par` pools, a streaming query's batch thread) and to Spark's
  * own broadcast and subquery threads. The job description would not do:
  * a streaming query overwrites it with its batch description. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, op, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val t = i.submissionTime.getOrElse(System.currentTimeMillis())
    stages(i.stageId) = StageRec(i.stageId, t, t, i.numTasks)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach(_.end = i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null)
      tasks += TaskRec(e.stageId, info.launchTime, m.executorRunTime, m.executorCpuTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum
    val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    plans += PlanRec(start, planMs)
  }
}

object Tracer {
  /** `op` is the id of the op the job is charged to, "" for none. */
  final case class JobRec(id: Int, op: String, start: Long, var end: Long, stageIds: Seq[Int])
  final case class StageRec(id: Int, start: Long, var end: Long, numTasks: Int)
  final case class TaskRec(stageId: Int, launch: Long, runMs: Long, cpuNs: Long,
      spillBytes: Long, shuffleWrite: Long, shuffleRead: Long)
  final case class PlanRec(start: Long, planMs: Long)

  /** The local property naming the op a job is charged to. */
  val OpKey = "perfbench.op"
}
