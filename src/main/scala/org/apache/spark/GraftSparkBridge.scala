package org.apache.spark

/** Minimal bridge to `private[spark]` scheduler internals (same pattern
  * as `org.apache.spark.sql.GraftSqlBridge`): `graft.Metrics` reads each
  * run's stages and plan through listeners, and listener events are
  * delivered asynchronously — draining the bus at each run's boundaries
  * is the only way to attribute them to the run that produced them. */
object GraftSparkBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
