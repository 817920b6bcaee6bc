package org.apache.spark.grafttest

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Captures the query executions (Dataset actions — `collect`, `head`,
  * `count`, writes) that a block runs on `session`. The listener is
  * registered on that session only, so pass a `newSession()` to keep
  * other suites' queries out; the listener bus is drained before the
  * captures are read, so every execution of the block has arrived.
  * RDD actions on `queryExecution.toRdd` are not Dataset actions and
  * are not captured. `listenerBus` is `private[spark]`, hence the package.
  */
object PlanCapture {
  def apply[T](session: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    session.listenerManager.register(listener)
    try {
      val out = body
      session.sparkContext.listenerBus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally session.listenerManager.unregister(listener)
  }
}
