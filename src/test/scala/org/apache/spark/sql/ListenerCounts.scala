package org.apache.spark.sql

import scala.jdk.CollectionConverters._

/** Test-side view of Spark's package-private listener registries: the
  * listeners on a session's context bus and its `QueryExecutionListener`s,
  * by class name — so a spec can check how many a recorder registered. */
object ListenerCounts {
  def sparkListeners(spark: SparkSession): Seq[String] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
      .map(_.getClass.getName)

  def queryListeners(spark: SparkSession): Seq[String] =
    spark.listenerManager.listListeners().toSeq.map(_.getClass.getName)
}
