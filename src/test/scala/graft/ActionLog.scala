package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the Spark actions a block runs, with a QueryExecutionListener:
  * each action's name (`count`, `head`, `save`, `command`, ...) and its
  * executed plan.
  */
object ActionLog extends AdaptiveSparkPlanHelper {

  final case class Action(name: String, plan: SparkPlan) {
    /** Every node of the plan, through adaptive stages and subqueries. */
    def nodes: Seq[SparkPlan] = collectWithSubqueries(plan) { case p => p }
  }

  def apply[T](spark: SparkSession)(f: => T): (T, Seq[Action]) = {
    val seen = new ConcurrentLinkedQueue[Action]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        seen.add(Action(funcName, qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        seen.add(Action(funcName, qe.executedPlan))
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val r = f
      ListenerBusDrain(spark.sparkContext)
      (r, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
