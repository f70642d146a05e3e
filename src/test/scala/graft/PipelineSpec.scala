package graft

/** End-to-end pipeline run over the smallest testdata: all twelve
  * reference reports land with rows, the run summary appends once per
  * run, and the incremental short-circuit writes nothing — the §3.1
  * lifecycle as one call. The concurrent run's own invariants are pinned
  * too: counts taken on the write equal what landed, every written report
  * equals its constructor's output, each input table is resolved once
  * per run, and a failed run waits, names the failures and appends no
  * summary. */
class PipelineSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private val src = "/root/testdata/sf0.001"

  private def poolThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(_.startsWith("graft-pipeline-")).toSet

  /** A DataFrame's rows as a sorted multiset. */
  private def rowBag(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** A copy of the directory tree at `from`, in a new temp dir. */
  private def copyTree(from: java.nio.file.Path): java.nio.file.Path = {
    import java.nio.file.Files
    val to = Files.createTempDirectory("graft-pipe-copy")
    scala.util.Using.resource(Files.walk(from)) { paths =>
      paths.forEach { p =>
        val target = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(target)
        else Files.copy(p, target)
      }
    }
    to
  }

  /** `run` on another thread, failing the test instead of hanging if it
    * ever blocks. */
  private def bounded[T](run: => T): T = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    Await.result(Future(run)(ExecutionContext.global), 10.minutes)
  }

  test("full run writes all 12 reports + appends the run summary") {
    val out = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    val counts = Pipeline.run(spark, "/root/testdata/sf0.001", out,
      dqFanout = true)
    // the DQ side-output landed beside the reports, partitioned by rule
    assert(spark.read.parquet(s"$out/dq_events")
      .select("dq_issue").distinct().count() >= 1)
    assert(counts.keySet == Pipeline.REPORTS.map(_._1).toSet)
    assert(counts.values.forall(_ > 0), counts.toString)
    // one-row summaries really are one row
    assert(counts("inventory_summary") == 1L)
    assert(counts("financial_summary") == 1L)
    val summary = spark.read.parquet(s"$out/analytics_daily_summary")
    assert(summary.count() == 1)
    // second run appends a second summary row (S6 semantics)
    Pipeline.run(spark, "/root/testdata/sf0.001", out)
    assert(spark.read.parquet(s"$out/analytics_daily_summary").count() == 2)
    // S9: the HTML document renders from the WRITTEN reports — all five
    // sections present, top-10 cap on the transfer table
    val html = Pipeline.htmlReport(spark, out, "2002-01-01 00:00:00",
      Some(s"$out/warehouse_report.html"))
    for (sec <- Seq("Inventory Summary", "Financial Summary",
        "Peak Day of Week", "Peak Month", "Transfer Patterns (top 10)"))
      assert(html.contains(s"<h2>$sec</h2>"), s"missing section $sec")
    assert(new java.io.File(s"$out/warehouse_report.html").length() > 0)
    val transfers = html.split("<h2>Transfer Patterns \\(top 10\\)</h2>")(1)
    assert(transfers.split("<tr>").length - 2 <= 10)
    // the four create_charts figures render inline from the written
    // reports (report_generator.py:69-143 → Charts.chartsFor)
    for (fig <- Seq("monthly_movements", "abc_analysis_pie",
        "warehouse_activity", "top_10_value_products"))
      assert(html.contains(s"""<figure id="$fig"><svg """),
        s"missing chart $fig")
  }

  test("generator → warehouse → pipeline → reports closes the lifecycle loop") {
    // the reference's own loop (generate_data.py:528-556 feeding
    // main.py:51-115): write the generated warehouse (masters + order
    // family + facts + fixture projections), run the UNCHANGED pipeline
    // over it, and check every report lands with rows.
    val gen = java.nio.file.Files.createTempDirectory("graft-genwh").toString
    val out = java.nio.file.Files.createTempDirectory("graft-genout").toString
    val written = graft.ops.Generator.writeWarehouse(spark, gen)
    // all ten tables landed, at their declared cardinalities
    assert(written("categories") == graft.ops.Generator.DEFAULT_CATEGORIES)
    assert(written("suppliers") == graft.ops.Generator.DEFAULT_SUPPLIERS)
    assert(written("movements") == graft.ops.Generator.DEFAULT_ROWS)
    assert(written("events") == graft.ops.Generator.DEFAULT_ROWS)
    // order lines + the two paired legs per transfer
    assert(written("lineitem") ==
      written("order_details") + 2 * graft.ops.Generator.DEFAULT_TRANSFERS)

    val counts = Pipeline.run(spark, gen, out, dqFanout = true)
    assert(counts.keySet == Pipeline.REPORTS.map(_._1).toSet)
    assert(counts.values.forall(_ > 0), counts.toString)
    // the generator's planted 5% noise is what the DQ fan-out quarantines:
    // props k=99 rows land under dq_issue=invalid_reference
    val dq = spark.read.parquet(s"$out/dq_events")
    val quarantined = dq.filter(dq("dq_issue") === "invalid_reference").count()
    val planted = spark.read.parquet(s"$gen/events.parquet")
    val expected = planted.filter(planted("user_id") === 9999999L).count()
    assert(quarantined == expected && quarantined > 0,
      s"planted=$expected quarantined=$quarantined")
  }

  /** Each calendar report and both peaks as written at `out` ≡ the
    * report's constructor over `data`, the full recompute. */
  private def assertCalendarsRecomputed(out: String, data: String): Unit =
    Seq("daily_trends", "weekly_trends", "monthly_trends",
        "peak_day_of_week", "peak_month").foreach { name =>
      val full = Pipeline.REPORTS.toMap.apply(name)(spark, data)
      val written = spark.read.parquet(s"$out/$name")
        .selectExpr(full.columns.toIndexedSeq: _*)
      assert(rowBag(written) == rowBag(full), s"$name: != full recompute")
    }

  test("incremental delta: stored trends merge new buckets, ≡ full recompute") {
    import org.apache.spark.sql.functions.{lit, to_timestamp}
    import spark.implicits._
    val src = "/root/testdata/sf0.001"
    val cut = "2024-01-15 00:00:00"
    // phase 1: a full run over the ledger AS OF the checkpoint — what a
    // previous day's pipeline would have persisted
    val dirA = fixtureDir(
      "lineitem" -> Tables(spark, src, "lineitem"),
      "events" -> Tables(spark, src, "events")
        .filter($"ts" <= to_timestamp(lit(cut))))
    val out = java.nio.file.Files.createTempDirectory("graft-delta").toString
    Pipeline.run(spark, dirA, out)
    // phase 2: incremental over the grown ledger — trends must take the
    // delta path (merge stored + post-checkpoint buckets in place)
    val counts2 = Pipeline.run(spark, src, out, incrementalSince = Some(cut))
    assert(counts2.nonEmpty)
    // the daily calendar merged its new days; the weekly and monthly
    // calendars and both peaks were derived from it (no fact rescan)
    assertCalendarsRecomputed(out, src)
    // the summary row claims exactly what happened
    val loadTypes = spark.read.parquet(s"$out/analytics_daily_summary")
      .select("load_type").collect().map(_.getString(0)).toSet
    assert(loadTypes == Set("full", "incremental_delta"))
  }

  test("incremental run recomputes weekly and monthly from the merged daily calendar, not their stored reports") {
    import org.apache.spark.sql.functions.{col, lit, min, to_timestamp, when}
    val cut = "2024-01-15 00:00:00"
    val dirA = fixtureDir(
      "lineitem" -> Tables(spark, src, "lineitem"),
      "events" -> Tables(spark, src, "events")
        .filter(col("ts") <= to_timestamp(lit(cut))))
    val out = java.nio.file.Files.createTempDirectory("graft-tamper").toString
    Pipeline.run(spark, dirA, out)
    // a stored weekly and monthly report whose first bucket (before the
    // checkpoint) no longer matches the daily calendar it rolls up
    Seq("weekly_trends", "monthly_trends").foreach { name =>
      val stored = spark.read.parquet(s"$out/$name")
      val first = stored.agg(min(col("bucket"))).head().getTimestamp(0)
      assert(!first.after(java.sql.Timestamp.valueOf(cut)), name)
      val tampered = java.nio.file.Files.createTempDirectory("graft-tamper-r")
        .resolve(name).toString
      stored.withColumn("n_events", when(col("bucket") === lit(first),
          col("n_events") + 1000L).otherwise(col("n_events")))
        .write.parquet(tampered)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$out/$name"))
      java.nio.file.Files.move(java.nio.file.Paths.get(tampered),
        java.nio.file.Paths.get(s"$out/$name"))
      assert(rowBag(spark.read.parquet(s"$out/$name")) != rowBag(
        Pipeline.REPORTS.toMap.apply(name)(spark, dirA)), name)
    }
    Pipeline.run(spark, src, out, incrementalSince = Some(cut))
    assertCalendarsRecomputed(out, src)
  }

  test("incremental delta over a foreign trend report without total_value_dec ≡ full recompute") {
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    import spark.implicits._
    val cut = "2024-01-15 00:00:00"
    val dirA = fixtureDir(
      "lineitem" -> Tables(spark, src, "lineitem"),
      "events" -> Tables(spark, src, "events")
        .filter($"ts" <= to_timestamp(lit(cut))))
    val out = java.nio.file.Files.createTempDirectory("graft-foreign").toString
    Pipeline.run(spark, dirA, out)
    // a foreign writer's daily_trends: the presentation double only
    val foreign = java.nio.file.Files.createTempDirectory("graft-foreign-dt")
      .resolve("daily_trends").toString
    spark.read.parquet(s"$out/daily_trends").drop("total_value_dec")
      .write.parquet(foreign)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$out/daily_trends"))
    java.nio.file.Files.move(java.nio.file.Paths.get(foreign),
      java.nio.file.Paths.get(s"$out/daily_trends"))
    assert(!spark.read.parquet(s"$out/daily_trends").columns
      .contains("total_value_dec"))
    Pipeline.run(spark, src, out, incrementalSince = Some(cut))
    val cols = Seq("bucket", "n_events", "total_value")
    val delta = spark.read.parquet(s"$out/daily_trends").select(cols.map(col): _*)
    val full = graft.ops.Movement.trend(spark, src)
      .select(cols.map(col): _*)
    assert(rowBag(delta) == rowBag(full), "daily_trends: delta != full recompute")
  }

  test("jdbc outDir: all 12 reports + summary + DQ land in a warehouse") {
    // the reference's real load stage (12 report tables + summary INSERT
    // into Postgres) against in-process Derby — same writer calls, only
    // the URL differs
    val url = "jdbc:derby:memory:graftpipe;create=true"
    val counts = Pipeline.run(spark, "/root/testdata/sf0.001", url,
      dqFanout = true)
    assert(counts.keySet == Pipeline.REPORTS.map(_._1).toSet)
    assert(counts.values.forall(_ > 0), counts.toString)
    assert(Tables(spark, url, "analytics_daily_summary").count() == 1)
    assert(Tables(spark, url, "dq_events").count() > 0)
    // second run appends a second summary row over JDBC (S6)
    Pipeline.run(spark, "/root/testdata/sf0.001", url)
    assert(Tables(spark, url, "analytics_daily_summary").count() == 2)
  }

  test("incremental run short-circuits when nothing is newer than the checkpoint") {
    val out = java.nio.file.Files.createTempDirectory("graft-pipe-inc").toString
    val counts = Pipeline.run(spark, "/root/testdata/sf0.001", out,
      incrementalSince = Some("2035-01-01 00:00:00"))
    assert(counts.isEmpty)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/analytics_daily_summary")))
  }

  test("counts come from the write: each equals the read-back count, parquet and jdbc") {
    val out = java.nio.file.Files.createTempDirectory("graft-pipe-counts").toString
    val counts = bounded(Pipeline.run(spark, src, out))
    assert(counts.keySet == Pipeline.REPORTS.map(_._1).toSet)
    counts.foreach { case (name, n) =>
      assert(spark.read.parquet(s"$out/$name").count() == n, name)
    }
    val summary = spark.read.parquet(s"$out/analytics_daily_summary")
      .select("n_reports", "total_rows").head()
    assert(summary.getLong(0) == 12L)
    assert(summary.getLong(1) == counts.values.sum)
    // the warehouse sink: the count must arrive through the JDBC writer
    // too, and the bounded wait turns a metric that never arrives into a
    // failure rather than a hung run
    val url = "jdbc:derby:memory:graftcounts;create=true"
    val jdbcCounts = bounded(Pipeline.run(spark, src, url))
    assert(jdbcCounts == counts)
    jdbcCounts.foreach { case (name, n) =>
      assert(Tables(spark, url, name).count() == n, name)
    }
    val jdbcSummary = Tables(spark, url, "analytics_daily_summary")
      .select("total_rows").collect().map(_.getLong(0)).toSeq
    assert(jdbcSummary == Seq(jdbcCounts.values.sum))
    assert(poolThreads().isEmpty, poolThreads())
  }

  test("every written report equals its constructor's output; peak_* waits for its source") {
    // covers every Pipeline.DERIVED report, not only the peak_* pair
    import org.apache.spark.sql.functions.{lit, to_timestamp}
    import spark.implicits._
    // the output dir first holds a run over an older ledger and fewer
    // orders, so a derived report that read its source before this run
    // rewrote it would aggregate the stale source and differ from its
    // constructor
    val stale = fixtureDir(
      "lineitem" -> Tables(spark, src, "lineitem")
        .filter($"l_orderkey" % 2 === 0),
      "events" -> Tables(spark, src, "events")
        .filter($"ts" <= to_timestamp(lit("2024-01-15 00:00:00"))))
    spark.sparkContext.hadoopConfiguration
      .set("fs.stallfs.impl", classOf[StallFs].getName)
    val staleOut = java.nio.file.Files.createTempDirectory("graft-pipe-eq")
    Pipeline.run(spark, stale, s"stallfs://$staleOut")
    val expected = Pipeline.REPORTS.map { case (name, fn) =>
      val df = fn(spark, src)
      name -> ((df.columns.toSeq, rowBag(df)))
    }.toMap
    val order = Pipeline.REPORTS.map(_._1)
    Pipeline.DERIVED.foreach { case (name, (source, _)) =>
      // over a copy of the stale output, swapping the rewritten `source`
      // in stalls until the first report after `name` in REPORTS that
      // does not derive from `source` starts writing: the stall holds one
      // pool thread, so every report queued ahead of that one, including
      // a `name` that did not wait for its source, runs against the stale
      // `source` (or, once the swap has moved it aside, against none)
      val out = copyTree(staleOut)
      // (the releaser must not itself wait for the stalled source)
      val releaser = order.drop(order.indexOf(name) + 1)
        .find(r => !Pipeline.DERIVED.get(r).exists(_._1 == source)).get
      StallFs.arm(source, releaser)
      Pipeline.run(spark, src, s"stallfs://$out")
      order.foreach { report =>
        val got = spark.read.parquet(s"$out/$report")
        val (columns, rows) = expected(report)
        assert(got.columns.toSeq == columns, report)
        assert(rowBag(got) == rows,
          s"$report != its constructor (stalled $source)")
      }
      // the stale run really was different, so the check above could fail
      assert(rowBag(spark.read.parquet(s"$staleOut/$name")) !=
        expected(name)._2, name)
    }
  }

  test("a run resolves each input table once: derived reads start no schema inference") {
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    val out = java.nio.file.Files.createTempDirectory("graft-pipe-once").toString
    // events and lineitem, once each
    val full = schemaInferences(bounded(
      Pipeline.run(spark, src, out, dqFanout = true)))
    assert(full == 2, full)
    // an incremental run over an output written from the ledger as of the
    // checkpoint: the stored daily report takes the delta path and is
    // read without inference. Only the resolutions are counted here;
    // the merged values are pinned by the incremental delta spec.
    val cut = "2024-01-15 00:00:00"
    val asOfCut = fixtureDir(
      "lineitem" -> Tables(spark, src, "lineitem"),
      "events" -> Tables(spark, src, "events")
        .filter(col("ts") <= to_timestamp(lit(cut))))
    val prev = java.nio.file.Files.createTempDirectory("graft-pipe-once-inc")
      .toString
    Pipeline.run(spark, asOfCut, prev)
    val incremental = schemaInferences(bounded(assert(Pipeline.run(spark,
      src, prev, incrementalSince = Some(cut)).nonEmpty)))
    assert(incremental == 2, incremental)
    val loadTypes = spark.read.parquet(s"$prev/analytics_daily_summary")
      .select("load_type").collect().map(_.getString(0)).toSet
    assert(loadTypes == Set("full", "incremental_delta"))
  }

  test("an incremental run over a stored trend report past its checkpoint fails by name") {
    // the full run's reports cover events after the checkpoint: merging
    // the post-checkpoint buckets again would double them
    val cut = "2024-01-15 00:00:00"
    val out = java.nio.file.Files.createTempDirectory("graft-pipe-past").toString
    Pipeline.run(spark, src, out)
    val before = rowBag(spark.read.parquet(s"$out/daily_trends"))
    val err = intercept[RuntimeException](bounded(Pipeline.run(spark, src,
      out, incrementalSince = Some(cut))))
    val causes = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(causes.contains(
      s"stored daily_trends holds a bucket after the incremental checkpoint $cut"),
      causes)
    // the failed delta left the stored report and the summary as they were
    assert(rowBag(spark.read.parquet(s"$out/daily_trends")) == before)
    assert(spark.read.parquet(s"$out/analytics_daily_summary")
      .select("load_type").collect().map(_.getString(0)).toSeq == Seq("full"))
  }

  test("a derived report listed before its source fails by name") {
    Pipeline.requireSourcesFirst(Pipeline.REPORTS.map(_._1),
      Pipeline.DERIVED.map { case (name, (source, _)) => name -> source })
    val before = intercept[IllegalArgumentException](
      Pipeline.requireSourcesFirst(Seq("peak_month", "daily_trends"),
        Map("peak_month" -> "daily_trends")))
    assert(before.getMessage.contains(
      "derived report peak_month must come after its source daily_trends"),
      before.getMessage)
    val missing = intercept[IllegalArgumentException](
      Pipeline.requireSourcesFirst(Seq("financial_summary"),
        Map("financial_summary" -> "stock_value_report")))
    assert(missing.getMessage.contains("stock_value_report"),
      missing.getMessage)
  }

  test("a report whose job fails while executing keeps its previous output") {
    import org.apache.spark.sql.functions.lit
    val out = java.nio.file.Files.createTempDirectory("graft-pipe-atomic").toString
    Pipeline.run(spark, src, out)
    val before = Pipeline.REPORTS.map { case (name, _) =>
      name -> rowBag(spark.read.parquet(s"$out/$name")) }.toMap
    // every discount 100 %: total revenue 0, so abc_analysis's revenue
    // share divides by zero (an ANSI error) in the write's own final stage,
    // after a plain overwrite has deleted the old report
    val hostile = copyTree(java.nio.file.Paths.get(src)).toString
    Tables(spark, src, "lineitem").withColumn("l_discount", lit(1.0))
      .write.mode("overwrite").parquet(s"$hostile/lineitem.parquet")
    val err = intercept[RuntimeException](
      bounded(Pipeline.run(spark, hostile, out)))
    assert(err.getMessage.contains("abc_analysis"), err.getMessage)
    Pipeline.REPORTS.map(_._1).filter(err.getMessage.contains).foreach { name =>
      assert(rowBag(spark.read.parquet(s"$out/$name")) == before(name), name)
    }
  }

  test("a failed run waits for in-flight reports, names the failures, appends no summary") {
    // no events table: the trend, peak and io reports and the DQ fan-out
    // fail; the lineitem reports are in flight when the first failure lands
    val dir = fixtureDir("lineitem" -> Tables(spark, src, "lineitem"))
    val out = java.nio.file.Files.createTempDirectory("graft-pipe-fail").toString
    val err = intercept[RuntimeException](
      bounded(Pipeline.run(spark, dir, out, dqFanout = true)))
    val failed = Seq("dq_events", "daily_trends", "weekly_trends",
      "monthly_trends", "peak_day_of_week", "peak_month",
      "warehouse_io_summary")
    val fine = Pipeline.REPORTS.map(_._1).filterNot(failed.contains)
    failed.foreach(name => assert(err.getMessage.contains(name), err.getMessage))
    fine.foreach(name => assert(!err.getMessage.contains(name), err.getMessage))
    assert(err.getCause != null &&
      err.getCause.getMessage.contains("events.parquet"), err.getCause)
    // every report that could succeed had finished before the throw
    fine.foreach(name => assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/$name/_SUCCESS")), name))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/analytics_daily_summary")))
    assert(poolThreads().isEmpty, poolThreads())
  }
}

/** The local filesystem under the `stallfs:` scheme, with one stall once
  * [[StallFs.arm]]`(source, releaser)` has been called: the rename that
  * swaps a staged `source` report in (`source.staging` → `source`, the
  * last step of [[graft.sources.Sinks.overwriteInPlace]]) waits until the
  * `releaser` report's staged write creates its first directory (or a
  * minute passes). */
class StallFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.fs.permission.FsPermission
  override def getScheme: String = "stallfs"
  override def getUri: java.net.URI = java.net.URI.create("stallfs:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getName == StallFs.source &&
        src.getName == s"${StallFs.source}.staging")
      StallFs.gate.await(1, java.util.concurrent.TimeUnit.MINUTES)
    super.rename(src, dst)
  }
  // a write's job setup calls the one-argument mkdirs, which does not
  // delegate to the two-argument one
  override def mkdirs(p: Path): Boolean = {
    release(p)
    super.mkdirs(p)
  }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    release(p)
    super.mkdirs(p, perm)
  }
  private def release(p: Path): Unit =
    if (p.toUri.getPath.contains(s"/${StallFs.releaser}.staging/"))
      StallFs.gate.countDown()
}

object StallFs {
  @volatile private[graft] var gate = new java.util.concurrent.CountDownLatch(0)
  @volatile private var source, releaser = ""
  def arm(source: String, releaser: String): Unit = {
    this.source = source
    this.releaser = releaser
    gate = new java.util.concurrent.CountDownLatch(1)
  }
}
