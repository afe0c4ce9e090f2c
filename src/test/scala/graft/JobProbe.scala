package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What one block of driver code ran: its Spark jobs, the summed input and
  * output metrics of their tasks, and the executed plans of its queries. */
final case class Probed(jobs: Int, bytesRead: Long, bytesWritten: Long,
    recordsWritten: Long, plans: Seq[SparkPlan]) {

  /** Every operator of every plan, the final plans of adaptive queries
    * included. */
  def nodes: Seq[SparkPlan] = plans.flatMap(JobProbe.collectAll)
}

object JobProbe extends AdaptiveSparkPlanHelper {

  private[graft] def collectAll(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case p => p }

  /** Runs `body` under a fresh job group with listeners attached. Listener
    * events arrive on the bus thread; draining the bus publishes them to
    * this one. */
  def apply(spark: SparkSession)(body: => Unit): Probed = {
    val sc = spark.sparkContext
    val group = s"probe-${System.nanoTime()}"
    var jobs = 0
    var read, written, records = 0L
    val stages = mutable.Set.empty[Int]
    val plans = mutable.Buffer.empty[SparkPlan]
    val listener = new SparkListener {
      private def ours(p: java.util.Properties) =
        p != null && p.getProperty("spark.jobGroup.id") == group
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs += 1
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages += e.stageInfo.stageId
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages(e.stageId) && e.taskMetrics != null) {
          read += e.taskMetrics.inputMetrics.bytesRead
          written += e.taskMetrics.outputMetrics.bytesWritten
          records += e.taskMetrics.outputMetrics.recordsWritten
        }
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(queries)
    sc.setJobGroup(group, "JobProbe")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusAccess.drain(sc)
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(listener)
    }
    Probed(jobs, read, written, records, plans.synchronized(plans.toSeq))
  }
}
