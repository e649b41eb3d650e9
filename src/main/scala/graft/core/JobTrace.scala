package graft.core

import scala.collection.mutable

import org.apache.spark.GraftBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The one recorder of what Spark ran inside [[JobTrace.of]]: jobs,
  * stages, tasks, summed task and GC time, shuffle bytes and the summed
  * job span (wall − span is the driver's gap); every executed plan
  * (QueryExecutionListener) and every SQL execution's plan description
  * (`SparkListenerSQLExecutionStart`, which checkpoint materializations
  * post too). `of` drains the asynchronous listener bus before it
  * returns — waits until every posted event is delivered, failing after
  * Spark's 10 s bound — so reads are exact without polling. A `group`
  * limits the job, stage and task counters to that job group's jobs. */
final class JobTrace private (group: Option[String])
    extends SparkListener with QueryExecutionListener {

  private var nJobs, nStages, nTasks = 0
  private var sumTaskMs, sumGcMs, sumJobSpanMs = 0L
  private var readBytes, writeBytes = 0L
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val stageIds = mutable.Set.empty[Int]
  private val executedPlans = mutable.ArrayBuffer.empty[(String, SparkPlan)]
  private val descriptions = mutable.ArrayBuffer.empty[String]

  def jobs: Int = synchronized(nJobs)
  def stages: Int = synchronized(nStages)
  def tasks: Int = synchronized(nTasks)
  def taskMs: Long = synchronized(sumTaskMs)
  def gcMs: Long = synchronized(sumGcMs)
  def shuffleReadBytes: Long = synchronized(readBytes)
  def shuffleWriteBytes: Long = synchronized(writeBytes)
  def jobSpanMs: Long = synchronized(sumJobSpanMs)
  /** (action name, executed plan) per successful action, in order. */
  def executed: Seq[(String, SparkPlan)] = synchronized(executedPlans.toSeq)
  def planDescriptions: Seq[String] = synchronized(descriptions.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (group.forall(g => Option(e.properties)
        .exists(_.getProperty(JobTrace.JobGroupKey) == g))) {
      nJobs += 1
      jobStarts(e.jobId) = e.time
      stageIds ++= e.stageIds
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(t => sumJobSpanMs += e.time - t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (stageIds(e.stageInfo.stageId)) nStages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageIds(e.stageId)) {
      nTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        sumTaskMs += m.executorRunTime
        sumGcMs += m.jvmGCTime
        readBytes += m.shuffleReadMetrics.totalBytesRead
        writeBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { descriptions += s.physicalPlanDescription }: Unit
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    synchronized { executedPlans += funcName -> qe.executedPlan }: Unit

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object JobTrace {
  private val JobGroupKey = "spark.jobGroup.id"

  /** Records `body` (see the class doc for `group`); returns its value
    * and the drained, stopped recorder. */
  def of[T](spark: SparkSession, group: Option[String] = None)(
      body: => T): (T, JobTrace) = {
    val t = new JobTrace(group)
    val sc = spark.sparkContext
    sc.addSparkListener(t)
    spark.listenerManager.register(t)
    val r = try body finally {
      GraftBus.drain(sc)
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
    }
    (r, t)
  }
}
