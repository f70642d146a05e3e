package graft

import java.nio.file.Files
import graft.sources.Sinks

/** Round-trip tests for the output surface (S3/S4/S6/S7/S8). */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-sink").toString

  test("date-partitioned ledger: checkpoint scan prunes closed partitions") {
    // Four days of events; checkpoint mid-Jan-03. The partitioned layout
    // must let the T1 scan eliminate Jan 01/02 at PLANNING time: the
    // executed scan's PartitionFilters are populated and it reads
    // strictly fewer files than the layout holds (the `numFiles` metric
    // is the partition-pruning proof, the same executed-plan evidence
    // style as the zero-shuffle bucketed-join test below).
    val events = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "view", 1.0, "{}"),
      Ev(2, ts("2024-01-02 10:00:00"), 1, "view", 1.0, "{}"),
      Ev(3, ts("2024-01-03 10:00:00"), 2, "view", 1.0, "{}"),
      Ev(4, ts("2024-01-03 18:00:00"), 2, "view", 1.0, "{}"),
      Ev(5, ts("2024-01-04 10:00:00"), 3, "view", 1.0, "{}")
    ).toDF()
    val p = tmp() + "/events_by_date"
    Sinks.writeDatePartitioned(events, p)
    val layoutFiles = spark.read.parquet(p).inputFiles.length
    assert(layoutFiles >= 4, "expected one file per day at minimum")

    val df = graft.ops.Incremental
      .incrementalEventsPartitioned(spark, p, "2024-01-03 12:00:00")
    assert(df.collect().map(_.getLong(0)).toSet == Set(4L, 5L))

    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(df.queryExecution.executedPlan).head
    assert(scan.partitionFilters.nonEmpty,
      "checkpoint predicate did not reach PartitionFilters")
    val filesRead = scan.metrics("numFiles").value
    assert(filesRead < layoutFiles,
      s"no pruning: read $filesRead of $layoutFiles files")
    // Jan-03 (boundary, kept for the exact ts filter) + Jan-04 only
    assert(filesRead <= layoutFiles - 2,
      s"expected the two closed days pruned, read $filesRead/$layoutFiles")
  }

  test("overwriteInPlace swap recovery: every crash window rolls to a full report") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def write(df: org.apache.spark.sql.DataFrame, p: String): Unit =
      df.write.mode("overwrite").parquet(p)
    val v1 = Seq((1L, "old")).toDF("id", "v")
    val v2 = Seq((2L, "new")).toDF("id", "v")

    // crash AFTER rename-aside, BEFORE swap-in: path missing, staging
    // complete → recovery must roll FORWARD to the new report
    val p1 = tmp() + "/report"
    write(v2, p1 + ".staging")
    write(v1, p1 + ".old")
    Sinks.recoverSwap(fs, p1)
    assert(spark.read.parquet(p1).collect().map(_.getString(1)).toSeq == Seq("new"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p1 + ".old")))

    // crash MID-STAGING-WRITE after an earlier aside: no _SUCCESS marker
    // → the half-written staging must NOT be promoted; roll BACK to old
    val p2 = tmp() + "/report"
    write(v2, p2 + ".staging")
    fs.delete(new org.apache.hadoop.fs.Path(p2 + ".staging/_SUCCESS"), false)
    write(v1, p2 + ".old")
    Sinks.recoverSwap(fs, p2)
    assert(spark.read.parquet(p2).collect().map(_.getString(1)).toSeq == Seq("old"))

    // healthy path + leftover .old: cleanup only
    val p3 = tmp() + "/report"
    write(v2, p3)
    write(v1, p3 + ".old")
    Sinks.recoverSwap(fs, p3)
    assert(spark.read.parquet(p3).collect().map(_.getString(1)).toSeq == Seq("new"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p3 + ".old")))

    // and the writer itself: a normal overwriteInPlace leaves no debris
    val p4 = tmp() + "/report"
    write(v1, p4)
    Sinks.overwriteInPlace(spark.read.parquet(p4)
      .withColumn("v", org.apache.spark.sql.functions.lit("new")), p4)
    assert(spark.read.parquet(p4).collect().map(_.getString(1)).toSeq == Seq("new"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p4 + ".staging")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p4 + ".old")))
  }

  test("parquet and CSV sinks round-trip the report") {
    val report = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "k", "v")
    val p = tmp() + "/report_parquet"
    Sinks.writeParquet(report, p)
    assert(spark.read.parquet(p).collect().toSet == report.collect().toSet)
    val c = tmp() + "/report_csv"
    Sinks.writeCsv(report, c)
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(c)
    // inferSchema types small ids as Int — compare through an explicit cast.
    assert(back.select($"id".cast("long")).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("counted: a write's rows are counted on the write, across partitions") {
    // a shuffle below the counter and several output partitions: the
    // count still equals what landed, and an empty write counts zero
    val df = spark.range(0, 1000, 1, 7).toDF("id")
      .repartition(5, $"id").filter($"id" % 3 =!= 0)
    val (counted, rows) = Sinks.counted(df)
    val p = tmp() + "/counted"
    Sinks.writeParquet(counted, p)
    assert(rows.value == 666L)
    assert(spark.read.parquet(p).count() == rows.value)
    val (none, zero) = Sinks.counted(df.filter($"id" < 0))
    Sinks.writeParquet(none, tmp() + "/empty")
    assert(zero.value == 0L)
  }

  test("append summary sink accumulates one row per run") {
    val p = tmp() + "/summary"
    Sinks.appendSummary(Sinks.liftSummary(spark,
      Seq("run" -> 1L, "rows" -> 100L)), p)
    Sinks.appendSummary(Sinks.liftSummary(spark,
      Seq("run" -> 2L, "rows" -> 120L)), p)
    val all = spark.read.parquet(p)
    assert(all.count() == 2)
    assert(all.select("run").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("snapshot writer stamps updated_at on every row (P5 analog)") {
    val before = System.currentTimeMillis() - 1000
    val p = tmp() + "/snapshot"
    Sinks.writeSnapshot(Seq((1L, 10L), (2L, 20L)).toDF("id", "qoh"), p)
    val back = spark.read.parquet(p)
    assert(back.columns.contains("updated_at"))
    val stamps = back.select("updated_at").collect()
      .map(_.getTimestamp(0).getTime)
    assert(stamps.length == 2)
    // one batch → one stamp (current_timestamp is per-query constant)
    assert(stamps.distinct.length == 1)
    assert(stamps.forall(t => t >= before && t <= System.currentTimeMillis()))
  }

  test("bucketed tables join with zero shuffle exchanges (co-located join)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val a = (1 to 200).map(i => (i.toLong % 40, i.toDouble)).toDF("k", "va")
    val b = (1 to 100).map(i => (i.toLong % 40, i * 2.0)).toDF("k", "vb")
    Sinks.writeBucketed(a, "bkt_a", Seq("k"), 4)
    Sinks.writeBucketed(b, "bkt_b", Seq("k"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val rows = joined.collect()
      assert(rows.length == 200 * 100 / 40) // 5 x_a * ~2.5 x_b per key... sanity below
      def shuffles(p: SparkPlan): Int = p match {
        case adaptive: AdaptiveSparkPlanExec => shuffles(adaptive.executedPlan)
        case stage: QueryStageExec => shuffles(stage.plan)
        case s: ShuffleExchangeLike => 1 + s.children.map(shuffles).sum
        case other => other.children.map(shuffles).sum
      }
      assert(shuffles(joined.queryExecution.executedPlan) == 0,
        joined.queryExecution.executedPlan.toString)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("dict lift produces a typed one-row table") {
    val df = Sinks.liftSummary(spark, Seq(
      "total_value" -> 123.75,
      "n_rows" -> 42,
      "label" -> "full",
      "ok" -> true))
    assert(df.count() == 1)
    val r = df.head()
    assert(r.getAs[Double]("total_value") == 123.75)
    assert(r.getAs[Long]("n_rows") == 42L)
    assert(r.getAs[String]("label") == "full")
    assert(r.getAs[Boolean]("ok"))
  }

  test("chunked export caps rows per file without a driver-side count") {
    val p = tmp() + "/chunks"
    Sinks.chunkedExport(spark.range(10000).toDF("id").coalesce(1), p,
      rowsPerFile = 1000)
    val files = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 10) // 10k rows / 1k per file
    assert(spark.read.parquet(p).count() == 10000)
  }

  test("HTML report sink renders the reference's table sections (S9)") {
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_html")
      .resolve("warehouse_report.html").toString
    // the three to_html sections of report_generator.py:172-174, fed by
    // the same operators the driver verifies
    val html = Sinks.writeHtmlReport(
      sections = Seq(
        "Peak Day of Week" -> ops.Movement.peakDayOfWeek(spark, dir),
        "Peak Month" -> ops.Movement.peakMonth(spark, dir),
        "Transfer Patterns (top 10)" ->
          ops.Warehouse.transferPatternsTop10(spark, dir)),
      title = "Warehouse Report",
      runDate = "2002-01-01 00:00:00",
      path = Some(out))
    val onDisk = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)), "UTF-8")
    assert(onDisk == html, "returned document must equal the written file")
    assert(html.contains("<h2>Peak Day of Week</h2>"))
    // all seven weekdays rendered
    for (d <- Seq("Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
        "Saturday", "Sunday"))
      assert(html.contains(s"<td>$d</td>"), s"missing weekday $d")
    // doubles go through the q63 locale filter (decimal comma)
    assert(html.contains(",") && "<td>\\d+,\\d\\d</td>".r
      .findFirstIn(html).nonEmpty, "locale-formatted numeric cell expected")
    // top-10 cap: section 3 has at most 10 body rows
    val section3 = html.split("<h2>Transfer Patterns \\(top 10\\)</h2>")(1)
    assert(section3.split("<tr>").length - 2 <= 10)
  }

  test("HTML report sink escapes markup and caps rows") {
    import spark.implicits._
    val df = Seq(("<script>alert(1)</script>", 1234567.891),
      ("b & \"c\"", 2.0), ("d", 3.0)).toDF("name", "value")
    val html = Sinks.writeHtmlReport(
      Seq("Sec" -> df), "T & T", "2002-01-01", path = None, maxRows = 2)
    assert(!html.contains("<script>"))
    assert(html.contains("&lt;script&gt;alert(1)&lt;/script&gt;"))
    assert(html.contains("b &amp; &quot;c&quot;"))
    assert(html.contains("<h1>T &amp; T</h1>"))
    assert(html.contains("<td>1.234.567,89</td>"), html) // format_rupiah twin
    assert(!html.contains("<td>d</td>"), "maxRows cap must drop row 3")
  }

  test("XLSX sink writes a valid single-sheet workbook (S5)") {
    import spark.implicits._
    val df = Seq(
      ("widget <&> \"q\"", 42L, 3.5, true),
      ("plain", 7L, -0.25, false)
    ).toDF("name", "qty", "ratio", "ok")
    val p = tmp() + "/report.xlsx"
    Sinks.writeXlsx(df, p, sheet = "Summary")
    // the workbook must be a well-formed OPC zip with all five parts
    val zf = new java.util.zip.ZipFile(p)
    try {
      val names = {
        val e = zf.entries(); val b = Seq.newBuilder[String]
        while (e.hasMoreElements) b += e.nextElement().getName
        b.result()
      }
      for (part <- Seq("[Content_Types].xml", "_rels/.rels",
          "xl/workbook.xml", "xl/_rels/workbook.xml.rels",
          "xl/worksheets/sheet1.xml"))
        assert(names.contains(part), s"missing part $part")
      def read(name: String): String = {
        val in = zf.getInputStream(zf.getEntry(name))
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      // every XML part must parse (the JDK SAX parser is the validator)
      val spf = javax.xml.parsers.SAXParserFactory.newInstance()
      for (part <- names.filter(n => n.endsWith(".xml") || n.endsWith(".rels")))
        spf.newSAXParser().parse(
          new java.io.ByteArrayInputStream(read(part).getBytes("UTF-8")),
          new org.xml.sax.helpers.DefaultHandler)
      val sheet = read("xl/worksheets/sheet1.xml")
      // header row, escaped inline string, native numeric + boolean cells
      assert(sheet.contains("""<c r="A1" t="inlineStr"><is><t>name</t></is></c>"""))
      assert(sheet.contains("widget &lt;&amp;&gt; &quot;q&quot;"))
      assert(sheet.contains("""<c r="B2" t="n"><v>42</v></c>"""))
      assert(sheet.contains("""<c r="C2" t="n"><v>3.5</v></c>"""))
      assert(sheet.contains("""<c r="D2" t="b"><v>1</v></c>"""))
      assert(sheet.contains("""<c r="D3" t="b"><v>0</v></c>"""))
      assert(read("xl/workbook.xml").contains("""name="Summary""""))
    } finally zf.close()
  }

  test("XLSX sink caps rows and blanks nulls") {
    import spark.implicits._
    val df = Seq((Some("a"), Some(1.0)), (None, None), (Some("c"), Some(3.0)))
      .toDF("s", "x")
    val p = tmp() + "/cap.xlsx"
    Sinks.writeXlsx(df, p, maxRows = 2)
    val zf = new java.util.zip.ZipFile(p)
    try {
      val in = zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml"))
      val sheet = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      assert(sheet.contains("""<row r="3"></row>"""),
        "all-null row renders as an empty row, not missing cells")
      assert(!sheet.contains("<t>c</t>"), "maxRows cap must drop row 3")
    } finally zf.close()
  }

  test("XLSX sink blanks non-finite doubles and strips XML-illegal chars") {
    import spark.implicits._
    val df = Seq(
      ("ok", 1.5),
      ("nan", Double.NaN),
      ("inf", Double.PositiveInfinity),
      ("ctl\u0000\u0001mid\u0007tail\tkeep", -2.0)
    ).toDF("s", "x")
    val p = tmp() + "/bad.xlsx"
    Sinks.writeXlsx(df, p)
    val zf = new java.util.zip.ZipFile(p)
    try {
      val in = zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml"))
      val sheet = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      // NaN/Infinity never reach a numeric cell — blank, like null
      assert(!sheet.contains("NaN") && !sheet.contains("Infinity"), sheet)
      assert(sheet.contains("""<row r="3"><c r="A3" t="inlineStr"><is><t>nan</t></is></c></row>"""))
      // C0 controls stripped; TAB survives (XML 1.0 allows it)
      assert(sheet.contains("<t>ctlmidtail\tkeep</t>"), sheet)
      // still a parseable part after hostile input
      javax.xml.parsers.SAXParserFactory.newInstance().newSAXParser().parse(
        new java.io.ByteArrayInputStream(sheet.getBytes("UTF-8")),
        new org.xml.sax.helpers.DefaultHandler)
    } finally zf.close()
  }

  test("JSONL shard sink: loader-format round trip, deterministic membership") {
    val docsDf = (0L until 40L)
      .map(i => Doc(i, s"text body $i", lang = "en")).toDF
    val out = tmp()
    Sinks.writeJsonlShards(docsDf, out, "doc_id", nShards = 4)
    // layout: shard=K dirs holding plain-text parts
    val shardDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty && shardDirs.length <= 4)
    // every line is a standalone JSON object a loader can parse — read
    // back with the generic JSON reader and compare full rows
    val back = spark.read.json(s"$out/shard=*/*.txt")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(_.toSeq).toSet
    assert(back == docsDf.collect().map(_.toSeq).toSet)
    // membership is the same deterministic hash as the parquet shards
    val out2 = tmp()
    Sinks.writeJsonlShards(docsDf, out2, "doc_id", nShards = 4)
    def perShard(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("shard=")).map { d =>
        d.getName -> spark.read.json(s"$p/${d.getName}/*.txt")
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }.toMap
    assert(perShard(out) == perShard(out2))
  }
}
