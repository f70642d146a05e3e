package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads, which Spark
  * keeps package-private. */
object PerfbenchAccess {

  /** Waits until the listener bus has delivered every event posted so
    * far: events arrive asynchronously, so a run's trace is complete only
    * after this. */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** A finished action as `(name, query execution, duration ns, failed)`:
    * the same executions a `QueryExecutionListener` is told about, but
    * keyed by the SQL execution id the jobs carry. */
  def finished(e: SparkListenerSQLExecutionEnd)
      : Option[(String, QueryExecution, Long, Boolean)] =
    for (n <- e.executionName; qe <- Option(e.qe))
      yield (n, qe, e.duration, e.executionFailure.isDefined)
}
