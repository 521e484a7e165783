package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two private Spark hooks [[graft.Meter]] needs, hence the package:
  * draining the listener bus and reading a finished SQL execution's plan.
  */
object GraftListenerBus {
  /** Blocks until every event posted so far has reached every listener;
    * throws a TimeoutException rather than return with events queued.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The executed plan of a SQL execution that succeeded — post-AQE, so
    * its runtime decisions (stage reuse, join demotions, skew splits) show.
    */
  def executedPlan(end: SparkListenerSQLExecutionEnd): Option[String] =
    Option(end.qe).filter(_ => end.executionFailure.isEmpty).map(_.executedPlan.toString)
}
