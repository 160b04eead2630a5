package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval at a layer boundary (workload, pass, query, phase, job,
  * stage). Times are epoch milliseconds; `parent` is the id of the span
  * that caused this one, -1 for the root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double)

/** Task counters of one completed stage attempt, summed over its tasks. */
final case class StageRec(stageId: Int, attempt: Int, name: String,
    start: Double, end: Double, tasks: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, inputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long)

final case class JobRec(jobId: Int, phaseSpan: Int, start: Double,
    end: Double, stageIds: Seq[Int])

/** Records jobs, stages and query executions while attached. The
  * harness tags every job with the phase span that submitted it through
  * the `perfbench.span` local property, which Spark copies onto the
  * threads it submits jobs from (AQE stages, broadcasts, subqueries). */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val jobStarts = new ConcurrentHashMap[Int, (Int, Double, Seq[Int])]()
  private val jobEnds = new ConcurrentHashMap[Int, Double]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val executions = new ConcurrentLinkedQueue[QueryPlanningTracker]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobStarts.put(e.jobId, (span, e.time.toDouble, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val end = si.completionTime.getOrElse(0L).toDouble
    stages.add(StageRec(si.stageId, si.attemptNumber(),
      si.name.takeWhile(_ != '\n'),
      si.submissionTime.map(_.toDouble).getOrElse(end), end, si.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = executions.add(qe.tracker)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = executions.add(qe.tracker)

  /** Everything recorded since the last call; clears the buffers. */
  def take(): (Seq[JobRec], Seq[StageRec], Seq[QueryPlanningTracker]) = {
    val ids = jobStarts.keySet.asScala.toSeq.sorted
    val jobs = ids.map { id =>
      val (span, start, stageIds) = jobStarts.get(id)
      JobRec(id, span, start, Option(jobEnds.get(id)).getOrElse(start), stageIds)
    }
    jobStarts.clear(); jobEnds.clear()
    val st = stages.asScala.toSeq; stages.clear()
    val ex = executions.asScala.toSeq; executions.clear()
    (jobs, st, ex)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
