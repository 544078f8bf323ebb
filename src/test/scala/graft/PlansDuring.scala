package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** The plans `body` executes (listener events drained before return). */
object PlansDuring {
  def apply(spark: SparkSession)(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    // events of earlier actions still on the async bus would otherwise
    // reach the new listener and be taken for plans of `body`
    org.apache.spark.GraftSparkShim.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.GraftSparkShim.drainListeners(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[QueryExecution]).toSeq
  }
}
