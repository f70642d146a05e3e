package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one measurement recorder: every main that measures a query
  * ([[Bench]], [[ProfileQuery]], [[Explain]] through
  * [[PlanScans.executedScans]]) materializes it with [[run]], so they all
  * time the same execution and read the same events.
  *
  * It owns the only stage listener and the only `QueryExecutionListener`
  * in `src/main`, each registered once per SparkContext / session; the
  * listener-bus drain that attributes asynchronously delivered events to
  * the run that caused them; the GC clock; and the materialization
  * itself, a noop-sink write (every column computed, nothing collected —
  * `.count()` would let Catalyst prune aggregate and window work).
  *
  * Measuring calls run one at a time: a run owns the recorder from its
  * first drain to its last, so stages and plans reported meanwhile are
  * that run's. Concurrent callers are serialized, and jobs another thread
  * submits during a run would be counted as the run's. [[run]] does not
  * clear the cache; callers release persisted blocks themselves. */
private[graft] object Metrics {

  /** One completed stage: wall and Σ task run time, GC, input and shuffle
    * volume, task count and the first callsite line. */
  final case class Stage(id: Int, wallMs: Long, runMs: Long, gcMs: Long,
      inBytes: Long, inRows: Long, shuffleRead: Long, shuffleWrite: Long,
      tasks: Int, site: String)

  /** One measured run: wall seconds and stop-the-world GC ms around the
    * frame's construction and write, the stages that completed meanwhile,
    * and the write's executed plan (its SQL metrics are final). */
  final case class Sample(wallSec: Double, gcMs: Long, stages: Seq[Stage],
      plan: SparkPlan) {
    def shuffleRead: Long = stages.map(_.shuffleRead).sum
    def shuffleWrite: Long = stages.map(_.shuffleWrite).sum
  }

  @volatile private var recording = false
  private val stages = ArrayBuffer.empty[Stage]
  @volatile private var lastPlan: SparkPlan = null

  private object StageListener extends SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val (si, m) = (e.stageInfo, e.stageInfo.taskMetrics)
      val wallMs = si.completionTime.zip(si.submissionTime)
        .fold(-1L) { case (c, s) => c - s }
      if (recording && m != null) stages.synchronized {
        stages += Stage(si.stageId, wallMs, m.executorRunTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, si.numTasks,
          si.details.linesIterator.take(1).mkString)
      }
    }
  }

  /** Keeps the executed plan of the run's last successful action — the
    * noop write, which is the run's final action. */
  private object PlanListener extends QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (recording) lastPlan = qe.executedPlan
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** The contexts and sessions the listeners are registered on, weakly
    * held by identity so a stopped context or dropped session is freed. */
  private val attached = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean])

  /** Total stop-the-world time so far across all collectors (ms). */
  private def gcNow(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum

  /** Build `df` on `spark` and write it to the noop sink, clocked: the
    * frame's construction (eager sub-jobs included) is part of the run.
    * Rethrows the frame's failure; no stage of a failed run reaches the
    * next one. */
  def run(spark: SparkSession)(df: => DataFrame): Sample = synchronized {
    val sc = spark.sparkContext
    if (attached.add(sc)) sc.addSparkListener(StageListener)
    if (attached.add(spark)) spark.listenerManager.register(PlanListener)
    GraftSparkBridge.drainListenerBus(sc)
    stages.synchronized(stages.clear())
    lastPlan = null
    recording = true
    try {
      val g0 = gcNow()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = gcNow() - g0
      GraftSparkBridge.drainListenerBus(sc)
      Sample(wall, gc, stages.synchronized(stages.toList), lastPlan)
    } finally {
      // whatever a failed run's stages report later is dropped here and
      // drained before the next run starts recording
      recording = false
      lastPlan = null
    }
  }
}
