package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.{Caches, CurationPipeline, Pipeline, Sessions}
import graft.sources.Sinks

/** One timed run of an engine entry point, in a fresh JVM.
  *
  * Usage: `Main --workload <name> --seed <n> --data <dir> --work <dir>
  * --expected <file> [--checkpoint <ts>] [--trace <spans.jsonl>] [--pin]`,
  * or `Main --phase fixtures --data <dir> --work <dir>` to write the
  * incremental fixtures ([[Fixtures]]).
  *
  * The session build is set-up, timed from JVM start. The timed run is
  * the first run of the workload in the process — the unit a batch ETL
  * job pays on every load. Its output is then checked against the pinned
  * digests. With `--trace` the run is traced and its per-layer counters
  * and spans are recorded. The last stdout line is one JSON object;
  * `--pin` prints the output digests instead. */
object Main {

  final case class Ctx(
      data: String, work: String, seed: Long, checkpoint: Option[String],
      expected: Map[String, (Long, String)])

  /** Input tables every traced record reports scans of. */
  val TABLES = Seq("lineitem", "events", "part", "supplier", "documents")

  /** Pinned outputs, one `<key> <rows> <md5>` line each. */
  def loadExpected(f: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(k, n, md5) = l.split("\\s+")
        k -> (n.toLong, md5)
      }.toMap

  trait Workload {
    def name: String
    /** The entry point the root span is named after. */
    def entry: String
    def run(spark: SparkSession, ctx: Ctx, out: String): Unit
    /** The run's outputs as `key -> (rows, md5)`. */
    def digests(spark: SparkSession, out: String): Map[String, (Long, String)]
    /** None when the outputs are the pinned ones, else what differs. */
    def check(spark: SparkSession, ctx: Ctx, out: String): Option[String] = {
      val bad = digests(spark, out).toSeq.sortBy(_._1).collect {
        case (k, v) if !ctx.expected.get(k).contains(v) =>
          s"$k got $v want ${ctx.expected.get(k)}"
      }
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    }
    /** Builds (without executing) the DataFrames the entry point is made
      * of; timed as `ops.build_ms` in the traced run. */
    def build(spark: SparkSession, ctx: Ctx): Unit
  }

  private def reportDigests(spark: SparkSession, out: String) =
    Pipeline.REPORTS.map { case (name, _) =>
      s"report.$name" -> Digest.of(spark.read.parquet(s"$out/$name"))
    }.toMap

  private def summaryLoadTypes(spark: SparkSession, out: String): Seq[String] =
    spark.read.parquet(s"$out/analytics_daily_summary")
      .select("load_type").collect().map(_.getString(0)).toSeq.sorted

  object PipelineFull extends Workload {
    val name = "pipeline_full"
    val entry = "Pipeline.run"
    def run(spark: SparkSession, ctx: Ctx, out: String): Unit =
      Pipeline.run(spark, ctx.data, out, dqFanout = true)
    def digests(spark: SparkSession, out: String) = reportDigests(spark, out)
    override def check(spark: SparkSession, ctx: Ctx, out: String) = {
      val loads = summaryLoadTypes(spark, out)
      if (loads != Seq("full")) Some(s"summary load_type $loads")
      else super.check(spark, ctx, out)
    }
    def build(spark: SparkSession, ctx: Ctx): Unit =
      Pipeline.REPORTS.foreach { case (_, fn) => fn(spark, ctx.data) }
  }

  /** Runs against a previous run's output as of a checkpoint the seed
    * picks ([[Fixtures]]), copied into the run's output directory before
    * the process starts. */
  object PipelineIncremental extends Workload {
    val name = "pipeline_incremental"
    val entry = "Pipeline.run(incrementalSince)"
    def run(spark: SparkSession, ctx: Ctx, out: String): Unit = {
      val checkpoint = ctx.checkpoint.getOrElse(
        sys.error("pipeline_incremental needs --checkpoint"))
      val counts = Pipeline.run(spark, ctx.data, out,
        incrementalSince = Some(checkpoint))
      require(counts.nonEmpty, s"no new data after $checkpoint")
    }
    def digests(spark: SparkSession, out: String) = reportDigests(spark, out)
    // the same reports as the full run (pinned), and the summary row the
    // run appended says it took the delta path
    override def check(spark: SparkSession, ctx: Ctx, out: String) = {
      val loads = summaryLoadTypes(spark, out)
      if (loads != Seq("full", "incremental_delta"))
        Some(s"summary load_type $loads")
      else super.check(spark, ctx, out)
    }
    def build(spark: SparkSession, ctx: Ctx): Unit = PipelineFull.build(spark, ctx)
  }

  object Curation extends Workload {
    val name = "curation_run"
    val entry = "CurationPipeline.run"
    def run(spark: SparkSession, ctx: Ctx, out: String): Unit =
      CurationPipeline.run(spark, ctx.data, out)
    def digests(spark: SparkSession, out: String) = {
      import org.apache.spark.sql.functions.col
      val m = spark.read.parquet(s"$out/manifest")
      Map(
        "curation.manifest" -> Digest.of(m.select(m.columns.sorted.map(col): _*)),
        "curation.shards" -> Digest.of(
          spark.read.parquet(s"$out/shards").select("doc_id", "shard")))
    }
    def build(spark: SparkSession, ctx: Ctx): Unit = {
      graft.ops.TextPipeline.curationVerdict(spark, ctx.data)
      Caches.release(graft.ops.TextPipeline.dedupBaseTag(ctx.data))
    }
  }

  val workloads: Seq[Workload] = Seq(PipelineFull, PipelineIncremental, Curation)

  def main(argv: Array[String]): Unit = {
    val pin = argv.contains("--pin")
    val a = argv.filterNot(_ == "--pin").grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (a.get("phase").contains("fixtures")) {
      val spark = Sessions.builder().getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      Fixtures.writeAll(spark, new File(a("data")).getAbsolutePath,
        new File(a("work")).getAbsolutePath).foreach(println)
      spark.stop()
      return
    }
    val workload = workloads.find(_.name == a("workload")).getOrElse(
      sys.error(s"unknown workload ${a("workload")}; known: " +
        workloads.map(_.name).mkString(", ")))
    val ctx = Ctx(
      data = new File(a("data")).getAbsolutePath,
      work = new File(a("work")).getAbsolutePath,
      seed = a("seed").toLong,
      checkpoint = a.get("checkpoint"),
      expected = if (pin) Map.empty else loadExpected(a("expected")))
    val spansFile = a.get("trace")
    val out = s"${ctx.work}/out"
    val host0 = Host.cpuTicks()

    // ---- set-up, timed from JVM start ----
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val cores = spark.sparkContext.defaultParallelism

    // ---- the timed run ----
    isolate(spark)
    val tracer = spansFile.map(_ => new Tracer(spark,
      s"${workload.name}-seed${ctx.seed}-${System.currentTimeMillis()}",
      workload.entry, out, ctx.data, cores))
    tracer.foreach(_.start())
    val cpu0 = Host.processCpuNs()
    val t0 = System.nanoTime()
    val result = Try(workload.run(spark, ctx, out))
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Host.processCpuNs() - cpu0) / 1e9
    tracer.foreach(_.finish())
    // measured before the output check reads the reports back
    val retained = Heap.retainedBytes()

    if (pin) {
      result.get
      workload.digests(spark, out).toSeq.sorted.foreach {
        case (k, (n, md5)) => println(s"$k $n $md5")
      }
      return
    }
    val error = result match {
      case Failure(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Success(_) => Try(workload.check(spark, ctx, out)) match {
        case Success(r) => r.map("wrong output: " + _)
        case Failure(e) => Some(s"check threw ${e.getMessage}")
      }
    }
    error.foreach(e => System.err.println(s"run failed: $e"))

    // per-layer counters; the constructors are timed after the run, so
    // they do not warm the timed run
    val counters = tracer.map { tr =>
      isolate(spark)
      val t = System.nanoTime()
      workload.build(spark, ctx)
      tr.counters(TABLES) + ("ops.build_ms" -> (System.nanoTime() - t) / 1e6)
    }
    for (tr <- tracer; f <- spansFile)
      Files.writeString(Paths.get(f), tr.spans().map(s => Json.render(ListMap(
        "run" -> s.run, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end,
        "attrs" -> s.attrs))).mkString("", "\n", "\n"))
    println(Json.render(ListMap(
      "workload" -> workload.name,
      "entry" -> workload.entry,
      "seed" -> ctx.seed,
      "master" -> Sessions.master,
      "cores" -> cores,
      "heap_max_mib" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "steal_pct" -> Host.stealPct(host0, Host.cpuTicks()),
      "setup_s" -> setupS,
      "wall_s" -> wall,
      "cpu_s" -> cpu,
      "heap_retained_mib" -> retained / (1024.0 * 1024.0),
      "ok" -> error.isEmpty,
      "error" -> error.getOrElse(""),
      "counters" -> counters.fold(Map.empty[String, Double])(identity)
    )))
    // everything is recorded and the work dir is the caller's to remove:
    // end without Spark's shutdown sequence, which only costs time here
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Isolation for the timed run: no cached blocks and no tracked
    * handles from set-up, and a collected heap. */
  def isolate(spark: SparkSession): Unit = {
    Caches.tracked.foreach(Caches.release)
    spark.catalog.clearCache()
    System.gc()
  }
}

/** The previous-run outputs `pipeline_incremental` starts from, one per
  * checkpoint: the 28 day boundaries before the last event's day, so
  * every checkpoint leaves new events to merge. Each holds what an
  * incremental run reads of a previous run — the three trend reports,
  * written by their own report constructors from the events up to the
  * checkpoint, and the run summary with its `full` row; the other nine
  * reports the run recomputes and writes itself. */
object Fixtures {
  val N = 28

  /** Writes every fixture under `dir/<yyyy-mm-dd>`; returns the
    * checkpoints, nearest the last event first. */
  def writeAll(spark: SparkSession, data: String, dir: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, lit, max, to_date, to_timestamp}
    val events = graft.Tables(spark, data, "events")
    val last = events.agg(max(to_date(col("ts")))).head().getDate(0).toLocalDate
    (1 to N).map { d =>
      val day = last.minusDays(d).toString
      val checkpoint = s"$day 00:00:00"
      val prevData = s"$dir/$day-input"
      val out = s"$dir/$day"
      events.filter(col("ts") <= to_timestamp(lit(checkpoint)))
        .write.parquet(s"$prevData/events.parquet")
      val rows = Pipeline.TREND_REPORTS.keys.toSeq.sorted.map { name =>
        Sinks.writeParquet(Pipeline.REPORTS.toMap.apply(name)(spark, prevData),
          s"$out/$name")
        spark.read.parquet(s"$out/$name").count()
      }
      Sinks.appendSummary(Sinks.liftSummary(spark, Seq(
        "load_type" -> "full",
        "n_reports" -> rows.size.toLong,
        "total_rows" -> rows.sum)), s"$out/analytics_daily_summary")
      checkpoint
    }
  }
}

object Host {
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The aggregate `cpu` line of /proc/stat (empty where absent). */
  def cpuTicks(): Seq[Long] = Try {
    scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong).toSeq
  }.getOrElse(Nil)

  /** Share of host CPU time stolen by the hypervisor between two
    * snapshots, in percent (0 where not reported). */
  def stealPct(a: Seq[Long], b: Seq[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0 else {
      val d = b.zip(a).map { case (x, y) => x - y }
      val total = d.take(8).sum
      if (total <= 0) 0.0 else 100.0 * d(7) / total
    }
}

/** Heap in use after a full collection: what the engine still holds. */
object Heap {
  def retainedBytes(): Long = {
    // a second collection after a pause also frees what the first one
    // handed to Spark's asynchronous cleaner
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** JSON for the records, through the Jackson Scala module Spark ships;
  * maps keep their insertion order. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
