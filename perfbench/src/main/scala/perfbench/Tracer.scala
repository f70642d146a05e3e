package perfbench

import scala.collection.mutable

import org.apache.spark.{Success => TaskOk}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.FileSourceScanExec

/** One span of a traced run. All spans of a run share `run`; `parent`
  * is the enclosing span's id (empty for the root). Times are epoch ms. */
final case class Span(
    run: String, id: String, parent: String, name: String,
    start: Long, end: Long, attrs: Map[String, Any] = Map.empty)

/** What the tracer saw of one Spark action (one SQL execution). */
final case class Action(
    execId: Long, func: String, durMs: Double, failed: Boolean,
    phases: Map[String, Long], writePath: Option[String],
    readPaths: Seq[String], write: Map[String, Long],
    scans: Seq[(String, Long, Long, Long)], exchanges: Int,
    coalesced: Int, skewSplits: Int, broadcasts: Int)

/** Records the per-layer picture of one workload call: Spark's job,
  * stage, task and SQL-execution events plus each action's executed
  * plan. Register with [[start]], run the call, then [[finish]]; the
  * tracer only observes, it never changes what the engine does.
  *
  * `outDir` attributes actions to reports ([[Attribution]]) and
  * `dataDir` maps scans to input tables. */
final class Tracer(
    spark: SparkSession, val runId: String, rootName: String,
    outDir: String, dataDir: String, cores: Int)
    extends SparkListener {

  private case class StageRec(
      id: Int, attempt: Int, job: Int, name: String, parents: Seq[Int],
      tasks: Int, submitted: Long, completed: Long, failed: Boolean)
  private case class TaskRec(
      stage: Int, durMs: Long, runMs: Long, cpuMs: Double,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, ok: Boolean)

  // every callback runs on the listener bus thread; reads happen after
  // the bus is drained, so plain buffers under a lock suffice
  private val lock = new Object
  private val jobExec = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val execStart = mutable.Map.empty[Long, Long]
  private val execEnd = mutable.Map.empty[Long, Long]
  private val actions = mutable.ArrayBuffer.empty[Action]
  private var jobs = 0
  private val cacheBlocks = mutable.Map.empty[String, Long]
  private var cacheNow = 0L
  private var cachePeak = 0L
  private val seenCaches = mutable.Set.empty[AnyRef]

  /** Time spent inside this tracer's callbacks: its own cost. */
  private var busyNs = 0L
  private def busy(f: => Unit): Unit = lock.synchronized {
    val t = System.nanoTime()
    try f finally busyNs += System.nanoTime() - t
  }

  private var t0 = 0L
  private var t1 = 0L
  private var gc0 = 0L
  private var gc1 = 0L

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def start(): Unit = {
    PerfbenchAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(this)
    gc0 = gcMs
    t0 = System.currentTimeMillis()
  }

  /** Ends the traced region: waits for every event of the run, then
    * detaches. */
  def finish(): Unit = {
    t1 = System.currentTimeMillis()
    gc1 = gcMs
    PerfbenchAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = busy {
    jobs += 1
    Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id"))).foreach(id =>
      jobExec(e.jobId) = id.toLong)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    busy {
      val i = e.stageInfo
      stages += StageRec(i.stageId, i.attemptNumber(),
        stageJob.getOrElse(i.stageId, -1), i.name, i.parentIds, i.numTasks,
        i.submissionTime.getOrElse(t0), i.completionTime.getOrElse(t0),
        i.failureReason.isDefined)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = busy {
    val m = Option(e.taskMetrics)
    tasks += TaskRec(
      e.stageId,
      e.taskInfo.duration,
      m.fold(0L)(_.executorRunTime),
      m.fold(0.0)(_.executorCpuTime / 1e6),
      m.fold(0L)(x => x.shuffleReadMetrics.totalBytesRead),
      m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
      m.fold(0L)(_.memoryBytesSpilled),
      e.reason == TaskOk)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    busy {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockId.name
        cacheNow -= cacheBlocks.getOrElse(key, 0L)
        val size =
          if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        if (size > 0) cacheBlocks(key) = size else cacheBlocks.remove(key)
        cacheNow += size
        cachePeak = math.max(cachePeak, cacheNow)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => busy {
      execStart(s.executionId) = s.time
    }
    case s: SparkListenerSQLExecutionEnd => busy {
      execEnd(s.executionId) = s.time
      PerfbenchAccess.finished(s).foreach { case (func, qe, durNs, failed) =>
        record(s.executionId, func, qe, durNs / 1e6, failed)
      }
    }
    case _ =>
  }

  /** Every node of an executed plan: through AQE wrappers and query
    * stages, into subqueries, and once into each cached relation (its
    * scan runs once, however many plans read the cache). Reused
    * exchanges are leaves, so shared work is counted once per plan. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      out += p
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case m: InMemoryTableScanExec =>
          val cached = m.relation.cacheBuilder
          if (seenCaches.add(cached)) Seq(m.relation.cachedPlan) else Nil
        case other => other.children
      }
      kids.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  private def record(execId: Long, func: String, qe: QueryExecution,
      durMs: Double, failed: Boolean): Unit = {
    val all = scala.util.Try(nodes(qe.executedPlan)).getOrElse(Nil)
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).fold(0L)(_.value)
    val writes = all.collect {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          Some(i.outputPath.toString -> i.metrics.map { case (k, v) => k -> v.value })
        case c => Some("" -> c.metrics.map { case (k, v) => k -> v.value })
      }
    }.flatten
    val scans = all.collect { case s: FileSourceScanExec =>
      (s.relation.location.rootPaths.headOption.fold("")(_.toString),
        metric(s, "numOutputRows"), metric(s, "filesSize"),
        metric(s, "numFiles"))
    }
    val reads = all.collect { case a: AQEShuffleReadExec => a }
    actions += Action(
      execId = execId,
      func = func,
      durMs = durMs,
      failed = failed,
      phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs },
      writePath = writes.headOption.map(_._1).filter(_.nonEmpty),
      readPaths = scans.map(_._1),
      write = writes.headOption.fold(Map.empty[String, Long])(_._2),
      scans = scans,
      exchanges = all.count(_.isInstanceOf[ShuffleExchangeExec]),
      coalesced = reads.count(_.hasCoalescedPartition),
      skewSplits = reads.filter(_.hasSkewedPartition).map(_.partitionSpecs
        .count(_.isInstanceOf[org.apache.spark.sql.execution.PartialReducerPartitionSpec])).sum,
      broadcasts = all.count(p => p.isInstanceOf[BroadcastHashJoinExec] ||
        p.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  /** Per-layer counters of the traced region (`ops.build_ms` is measured
    * by the caller, around the DataFrame constructors). */
  def counters(tables: Seq[String]): Map[String, Double] = lock.synchronized {
    val wallMs = math.max(1L, t1 - t0).toDouble
    val stageParents = stages.map(s => s.id -> s.parents.nonEmpty).toMap
    def stageSum(reduce: Boolean)(f: TaskRec => Double) =
      tasks.filter(t => stageParents.getOrElse(t.stage, false) == reduce)
        .map(f).sum
    val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durMs.toDouble).sorted
      val med = (d((d.size - 1) / 2) + d(d.size / 2)) / 2
      ts.map(_.durMs).max / math.max(med, 1.0)
    }
    val readback = actions.filter(a =>
      a.func == "count" && a.writePath.isEmpty && a.readPaths.nonEmpty &&
        a.readPaths.forall(Attribution.reportOf(outDir, _).isDefined))
    val deltas = actions.flatMap(_.writePath).count(p =>
      Attribution.reportOf(outDir, p).isDefined &&
        Attribution.normalise(p).endsWith(".staging"))
    val scanBy = actions.flatMap(_.scans).flatMap { case (p, r, b, f) =>
      Attribution.tableOf(dataDir, p).map(t => (t, r, b, f))
    }.groupBy(_._1)
    def scan(t: String, f: ((String, Long, Long, Long)) => Long) =
      scanBy.get(t).fold(0L)(_.map(f).sum).toDouble
    def phase(k: String) = actions.map(_.phases.getOrElse(k, 0L)).sum.toDouble
    def write(k: String) = actions.map(_.write.getOrElse(k, 0L)).sum.toDouble
    Map(
      "pipeline.sql_actions" -> actions.size.toDouble,
      "pipeline.readback_ms" -> readback.map(_.durMs).sum,
      "pipeline.core_idle_frac" ->
        (1.0 - tasks.map(_.runMs).sum / (wallMs * cores)),
      "pipeline.delta_reports" -> deltas.toDouble,
      "plan.analysis_ms" -> phase("analysis"),
      "plan.optimizer_ms" -> phase("optimization"),
      "plan.physical_ms" -> phase("planning"),
      "stage.map_cpu_ms" -> stageSum(reduce = false)(_.cpuMs),
      "stage.map_run_ms" -> stageSum(reduce = false)(_.runMs.toDouble),
      "stage.reduce_cpu_ms" -> stageSum(reduce = true)(_.cpuMs),
      "shuffle.write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "exchange.count" -> actions.map(_.exchanges).sum.toDouble,
      "aqe.coalesced" -> actions.map(_.coalesced).sum.toDouble,
      "aqe.broadcast" -> actions.map(_.broadcasts).sum.toDouble,
      "aqe.skew_splits" -> actions.map(_.skewSplits).sum.toDouble,
      "spill.bytes" -> tasks.map(_.spill).sum.toDouble,
      "sched.jobs" -> jobs.toDouble,
      "sched.stages" -> stages.size.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "task.skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "sched.task_failures" -> tasks.count(!_.ok).toDouble,
      "sink.rows" -> write("numOutputRows"),
      "sink.files" -> write("numFiles"),
      "sink.bytes" -> write("numOutputBytes"),
      "sink.commit_ms" -> (write("taskCommitTime") + write("jobCommitTime")),
      "cache.bytes_peak" -> cachePeak.toDouble,
      "jvm.gc_ms" -> (gc1 - gc0).toDouble,
      "trace.overhead_frac" -> busyNs / 1e6 / wallMs
    ) ++ tables.flatMap(t => Seq(
      s"scan.rows.$t" -> scan(t, _._2),
      s"scan.bytes.$t" -> scan(t, _._3),
      s"scan.files.$t" -> scan(t, _._4)))
  }

  /** The run's span tree: root (the workload call) → one span per report
    * (or `(other)` for actions outside the output tree) → one span per
    * SQL execution → one span per stage. */
  def spans(): Seq[Span] = lock.synchronized {
    val root = Span(runId, s"$runId/root", "", rootName, t0, t1)
    val attributed = actions.toSeq.map(a =>
      a -> Attribution.attribute(outDir, a.writePath, a.readPaths)
        .getOrElse("(other)"))
    val execSpans = attributed.map { case (a, report) =>
      val st = execStart.getOrElse(a.execId, t0)
      val en = execEnd.getOrElse(a.execId, st + a.durMs.toLong)
      report -> Span(runId, s"$runId/sql/${a.execId}",
        s"$runId/report/$report", s"sql ${a.execId} ${a.func}", st, en,
        Map("write" -> a.writePath.getOrElse(""),
          "rows_written" -> a.write.getOrElse("numOutputRows", 0L),
          "failed" -> a.failed) ++
          a.phases.map { case (k, v) => s"plan.$k" -> v })
    }
    val reportSpans = execSpans.groupBy(_._1).toSeq.map { case (r, ss) =>
      Span(runId, s"$runId/report/$r", root.id, r,
        ss.map(_._2.start).min, ss.map(_._2.end).max,
        Map("sql_actions" -> ss.size))
    }.sortBy(_.start)
    val known = execSpans.map(_._2.id).toSet
    val stageSpans = stages.toSeq.map { s =>
      val exec = jobExec.get(s.job).map(e => s"$runId/sql/$e")
        .filter(known).getOrElse(root.id)
      Span(runId, s"$runId/stage/${s.id}.${s.attempt}", exec,
        s"stage ${s.id} ${s.name}", s.submitted, s.completed,
        Map("tasks" -> s.tasks, "failed" -> s.failed,
          "side" -> (if (s.parents.nonEmpty) "reduce" else "map")))
    }
    val all = (root +: reportSpans) ++ execSpans.map(_._2).sortBy(_.start) ++
      stageSpans.sortBy(_.start)
    val kids = all.groupBy(_.parent)
    all.map(s => s.copy(attrs = s.attrs + ("self_ms" -> Tracer.selfMs(
      s.start, s.end, kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))))))
  }
}

object Tracer {
  /** A span's self time: its duration minus the part of it that its
    * children's intervals cover (overlapping children counted once). */
  def selfMs(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (a, b) =>
      (math.max(a, start), math.min(b, end)) }.filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var reach = start
    clipped.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    (end - start) - covered
  }
}
