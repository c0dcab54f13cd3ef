package graft.util

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftSqlShims, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The plans a block of code executes. An operator that materializes a
  * stage (`localCheckpoint`, a count probe, a vocabulary `collect`)
  * hands its consumers a plan that reads the result, so the final plan
  * alone hides that dataflow; every executed plan is reported to the
  * session's `QueryExecutionListener`s, which is where this reads it. */
object PlanCapture {

  /** One executed plan and the action that ran it (`localCheckpoint`,
    * `count`, `collect`, ...). */
  final case class Executed(action: String, qe: QueryExecution)

  /** `body`'s result and every plan it executed, in completion order,
    * failed executions included. */
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Executed]) = {
    val seen = new ConcurrentLinkedQueue[Executed]()
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(Executed(action, qe))
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(Executed(action, qe))
    }
    // events of earlier executions must not reach the new listener
    GraftSqlShims.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val out = body
      GraftSqlShims.drainListenerBus(spark)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
