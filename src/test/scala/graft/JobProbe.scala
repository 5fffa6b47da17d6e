package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark ran while a block of driver code ran: the jobs it started
  * and the executed plans of the queries it finished. Listener events are
  * delivered asynchronously on the shared listener queue, so the probe
  * runs a marker job after the block and waits for it: once the marker's
  * start is seen, every earlier event on that queue has been seen too.
  */
object JobProbe extends AdaptiveSparkPlanHelper {

  final case class Seen(jobs: Seq[SparkListenerJobStart], plans: Seq[SparkPlan])

  def during[T](spark: SparkSession)(body: => T): (T, Seen) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val marker = s"job-probe-marker-${java.util.UUID.randomUUID}"
    @volatile var markerSeen = false
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == marker) markerSeen = true
        else if (!markerSeen) jobs.add(e)
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (!markerSeen) plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "marker job never reached the listener")
      (out, Seen(jobs.toArray(Array.empty[SparkListenerJobStart]).toSeq,
        plans.toArray(Array.empty[SparkPlan]).toSeq))
    } finally {
      spark.listenerManager.unregister(ql)
      sc.removeSparkListener(jl)
    }
  }

  /** Shuffle exchanges in an executed plan, through adaptive query stages. */
  def shuffles(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(plan) { case s: ShuffleExchangeLike => s }

  /** Sorts in an executed plan, through adaptive query stages. */
  def sorts(plan: SparkPlan): Seq[SortExec] =
    collect(plan) { case s: SortExec => s }

  /** The executed plans that wrote files. */
  def writePlans(seen: Seen): Seq[SparkPlan] =
    seen.plans.filter(find(_)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty)

  /** Tasks of a job's final (result) stage. */
  def resultTasks(job: SparkListenerJobStart): Int =
    job.stageInfos.maxBy(_.stageId).numTasks
}
