package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What a block of driver code submitted to Spark: the stages of each
  * job (a stage's `name` is its short call site, its `details` the call
  * stack), the physical plan text of every SQL execution, and every job
  * that ended in failure (its id, stage names and result). A job the
  * block started is logged to its end, also one that another thread
  * still runs when the block returns. */
final case class JobLog(jobs: Seq[Seq[StageInfo]], sqlPlans: Seq[String],
    failedJobs: Seq[String]) {
  def stageNames: Seq[String] = jobs.flatten.map(_.name)
}

object JobLog {
  def of[T](spark: SparkSession)(body: => T): (T, JobLog) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[Seq[StageInfo]]
    val plans = new ConcurrentLinkedQueue[String]
    val failed = new ConcurrentLinkedQueue[String]
    val running = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(e.stageInfos)
        running.put(e.jobId, e.stageInfos.map(_.name).mkString(", "))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val stages = running.remove(e.jobId)
        if (e.jobResult != JobSucceeded)
          failed.add(s"job ${e.jobId} [$stages]: ${e.jobResult}")
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    TestListenerBus.drain(sc) // earlier blocks' events stay out
    sc.addSparkListener(listener)
    try {
      val out = body
      TestListenerBus.drain(sc)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!running.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(50)
        TestListenerBus.drain(sc)
      }
      (out, JobLog(jobs.asScala.toSeq, plans.asScala.toSeq, failed.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
