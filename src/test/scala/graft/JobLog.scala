package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What a block of driver code submitted to Spark: the stages of each
  * job (a stage's `name` is its short call site, its `details` the call
  * stack) and the physical plan text of every SQL execution. */
final case class JobLog(jobs: Seq[Seq[StageInfo]], sqlPlans: Seq[String]) {
  def stageNames: Seq[String] = jobs.flatten.map(_.name)
}

object JobLog {
  def of[T](spark: SparkSession)(body: => T): (T, JobLog) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[Seq[StageInfo]]
    val plans = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos)
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
      (out, JobLog(jobs.asScala.toSeq, plans.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }
}
