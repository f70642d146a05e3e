package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, current_timestamp, lit, pmod, struct, to_date, to_json, udf, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** Output surface — the reference's load stage re-expressed as Spark
  * writers (`wsm/etl_pipeline/load/data_loader.py:33-94` and the
  * generator's chunked bulk export `generate_data.py:407-441`):
  *
  *  - S3 parquet / S4 CSV report sinks (format switch
  *    `config/config.yaml:30`);
  *  - S6 append sink: the one-row run summary appended per pipeline run
  *    (`analytics_daily_summary`; parquet append here, `.jdbc` at
  *    deploy — same writer contract);
  *  - S7 dict→one-row-table lift (`data_loader.py:44-46`);
  *  - S8 chunked export: the reference chunks INSERTs 5 000 rows at a
  *    time; the Spark-native equivalent caps rows per output file with
  *    `maxRecordsPerFile` — NO driver-side count, no repartition pass,
  *    chunking happens inside each writer task.
  *
  * All writers take the DataFrame as-is: partitioning/ordering decisions
  * belong to the query, not the sink.
  */
object Sinks {

  /** S3: one parquet report per path. */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** `df` with a row counter in front of whatever sink writes it: once
    * the write returns, the accumulator holds the rows it wrote — the
    * count is taken ON the write, with no read-back job. The counter is a
    * pass-through filter at the plan's root, so it runs in the write's
    * final (result) stage, whose per-partition updates Spark merges once
    * (retried and speculative attempts included); it is merged before
    * the action returns, so there is no metric to wait for. Count one
    * write per returned frame. */
  def counted(df: DataFrame): (DataFrame, LongAccumulator) = {
    val rows = df.sparkSession.sparkContext.longAccumulator
    val tick = udf { () => rows.add(1L); true }.asNondeterministic()
    (df.filter(tick()), rows)
  }

  /** S4: CSV with header — the reference's alternate report format. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S6: append-only run-summary sink. A `path` starting with `jdbc:` is
    * a connection URL and the summary appends to the `table` over JDBC —
    * the reference's `analytics_daily_summary` INSERT
    * (`wsm/etl_pipeline/load/data_loader.py:86-94`); otherwise parquet
    * append at the path. Same writer contract either way. */
  def appendSummary(df: DataFrame, path: String,
      table: String = "analytics_daily_summary"): Unit =
    if (path.startsWith("jdbc:")) writeJdbc(df, path, table, SaveMode.Append)
    else df.write.mode(SaveMode.Append).parquet(path)

  /** JDBC report sink (the S3/S6 warehouse branch): batched INSERTs from
    * each partition in parallel — `batchsize` rows per round-trip plays
    * the reference's 5 000-row executemany chunks (S8). Overwrite uses
    * TRUNCATE-less table replace by default; Append assumes (or creates)
    * the table, exactly Spark's `DataFrameWriter.jdbc` contract. */
  def writeJdbc(df: DataFrame, url: String, table: String,
      mode: SaveMode = SaveMode.Overwrite, batchSize: Int = 5000): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize)
      .mode(mode).save()

  /** Atomic overwrite of the parquet output at `path`: materialize to a
    * staging dir first, then swap. A write whose job fails leaves `path`
    * as it was (a plain overwrite deletes it before the write's final
    * stage runs, so a failure there leaves no output at all), and an
    * output UPDATED from its own previous contents (the incremental-delta
    * path reads `path` lazily while producing its replacement) never
    * races its own read. `partitionBy` lays out the staged write. The
    * rename is atomic on HDFS; on object stores it's a copy, which is
    * fine for the report-sized outputs this serves. */
  def overwriteInPlace(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    val fs = p.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    recoverSwap(fs, path) // finish any interrupted previous swap first
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
      .parquet(staging.toString)
    // Swap via rename-aside, never delete-then-rename: at every crash
    // point either `path` still holds the old report or `.staging` holds
    // the complete new one, and [[recoverSwap]] rolls the swap forward —
    // no window where the report is simply gone (a delete/rename gap
    // would silently reset the streaming merge history).
    fs.delete(old, true)
    if (fs.exists(p) && !fs.rename(p, old))
      throw new java.io.IOException(s"rename-aside failed for $path")
    if (!fs.rename(staging, p))
      throw new java.io.IOException(s"staging swap failed for $path")
    fs.delete(old, true)
  }

  /** Crash recovery for [[overwriteInPlace]], run by writers AND readers
    * before touching `path`: a missing report with a complete `.staging`
    * (crash between rename-aside and swap-in) is rolled FORWARD — the
    * staging dir is the fully-written replacement, so completing the
    * rename loses nothing. A surviving `.old` next to a live `path` is
    * leftover cleanup. The `_SUCCESS` marker gates forward-roll so a
    * half-written staging dir (crash mid-write) is never promoted. */
  def recoverSwap(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    if (!fs.exists(p)) {
      val complete = fs.exists(
        new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))
      // a failed recovery rename must fail LOUDLY: returning normally
      // with `path` still missing would make the streaming merge read an
      // empty baseline and silently reset its accumulated history — the
      // failure class this recovery exists to close
      if (complete) {
        if (!fs.rename(staging, p))
          throw new java.io.IOException(s"swap recovery (roll-forward) failed for $path")
      } else if (fs.exists(old)) {
        if (!fs.rename(old, p))
          throw new java.io.IOException(s"swap recovery (roll-back) failed for $path")
      }
    }
    if (fs.exists(p)) {
      fs.delete(old, true): Unit
    }
  }

  /** The event-ledger LAYOUT RULE for incremental loads at scale: write
    * the fact partitioned by event DATE (`event_date=YYYY-MM-DD/`
    * directories), so the T1 checkpoint scan
    * ([[graft.ops.Incremental.incrementalEventsPartitioned]]) prunes
    * every closed partition at PLANNING time — a day's increment over a
    * 100 TB ledger opens one day's directories, not the ledger. Daily
    * granularity bounds partition count (≤ a few thousand for a decade)
    * while keeping each partition append-only once its day closes; finer
    * grains multiply small files, coarser grains re-scan the open
    * partition's siblings. */
  def writeDatePartitioned(events: DataFrame, path: String): Unit =
    events
      .withColumn("event_date", to_date(col("ts")))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date").parquet(path)

  /** Training-shard writer: rows land in `shard=K/` directories by a
    * DETERMINISTIC hash of their id — the layout a training loader reads
    * round-robin. Assignment is a pure function of the row (xxhash64 of
    * the id, mod n), so re-runs, backfills and incremental appends place
    * every document in the same shard forever — no RNG, no global sort,
    * no coordination. The repartition keys the ONE shuffle by the shard
    * value itself; `partitionBy` then guarantees the one-directory-per-
    * shard LAYOUT regardless of task assignment. Task assignment is
    * hash(shard) % nShards, which may co-locate two shard values in one
    * task (leaving another empty) — the directory layout and per-shard
    * file count still hold because the writer splits by partition value
    * within the task. `repartitionByRange` would pin one value per task
    * but costs a second pass over the input (range bounds are sampled),
    * the wrong trade for a corpus-sized write. At petabyte scale raise
    * `nShards` to the loader's file-count target; balance and determinism
    * are unchanged. Returns the rows written, [[counted]] on the write
    * (the counter sits above the repartition, in the result stage). */
  def writeShards(
      df: DataFrame, path: String, idCol: String, nShards: Int): Long = {
    val (rows, n) = counted(sharded(df, idCol, nShards))
    rows.write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(path)
    n.value
  }

  /** `df` with its `shard` (xxhash64 of the id, mod `nShards`) and
    * repartitioned on it — the one assignment both shard writers use, so
    * each document lands in the same shard in either format. */
  private def sharded(df: DataFrame, idCol: String, nShards: Int): DataFrame =
    df.withColumn("shard", pmod(xxhash64(col(idCol)), lit(nShards.toLong)))
      .repartition(nShards, col("shard"))

  /** JSONL flavor of [[writeShards]] — the wire format LLM training
    * loaders actually consume (one JSON object per line, shard dirs by
    * the same deterministic id hash, so a loader can stripe across
    * `shard=K/` dirs and a re-run reproduces byte-identical membership).
    * Distributed text write: `to_json(struct(*))` is a codegen'd
    * projection and each shard partition streams to its own .txt part —
    * no driver-side formatting, no collect. Timestamps serialize in
    * ISO-8601 (Spark's JSON default), embedding/binary columns as JSON
    * arrays/base64 per `to_json`'s documented mapping. */
  def writeJsonlShards(
      df: DataFrame, path: String, idCol: String, nShards: Int): Unit =
    sharded(df, idCol, nShards)
      .select(col("shard"),
        to_json(struct(df.columns.map(col): _*)).as("value"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard").text(path)

  /** S8: bulk export capped at `rowsPerFile` rows per output file —
    * the reference's 5 000-row INSERT chunks, executed writer-side. */
  def chunkedExport(df: DataFrame, path: String, rowsPerFile: Long = 5000): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", rowsPerFile)
      .parquet(path)

  /** DQ fan-out in ONE pass (F4 + the quarantine side-output): the tagged
    * stream writes partitioned by disposition, so each rule's rejects land
    * in their own directory and the valid stream is a partition-PRUNED
    * read — no second scan of the source to separate valid from
    * quarantined (the two-query shape the Quality module uses for its
    * oracle entries costs one scan per output; this is the deploy path).
    * The write is a staged swap ([[overwriteInPlace]]). */
  def writeDqFanout(tagged: DataFrame, path: String): Unit =
    overwriteInPlace(tagged, path, Seq("dq_issue"))

  /** Bucketed co-located write — the storage-layout half of the 100 TB
    * join strategy: both sides of a recurring equi-join written with the
    * SAME bucket spec (count + keys) read back co-partitioned, so the
    * join plans with NO shuffle exchange at any data size (SinksSpec
    * asserts zero ShuffleExchange nodes on the executed plan). `sortBy`
    * persists per-bucket order, letting the sort-merge join skip its
    * sorts as well. This is what replaces the reference's B-tree FK
    * indexes at scale (SURVEY §4): the data IS the index. */
  def writeBucketed(
      df: DataFrame, table: String,
      bucketKeys: Seq[String], nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(nBuckets, bucketKeys.head, bucketKeys.tail: _*)
      .sortBy(bucketKeys.head, bucketKeys.tail: _*)
      .saveAsTable(table)

  /** P5 trigger analog (`wsm/database_function/triggers.sql:72-78`,
    * `trigger_set_updated_at`): stamp `updated_at = now()` on the write
    * path. In the reference a BEFORE UPDATE trigger touches the column on
    * every row change; in batch dataflow the write IS the change, so the
    * sink stamps the whole batch. `current_timestamp()` is fixed per
    * query in Spark — every row of one write carries the same stamp,
    * matching the reference's per-transaction `now()`. */
  def withUpdatedAt(df: DataFrame): DataFrame =
    df.withColumn("updated_at", current_timestamp())

  /** Snapshot writer: parquet sink with the P5 `updated_at` stamp — the
    * path mutated tables (stock snapshots) go through. */
  def writeSnapshot(df: DataFrame, path: String): Unit =
    writeParquet(withUpdatedAt(df), path)

  /** S9 — the HTML report sink (`etl_pipeline/load/report_generator.py:
    * 146-201`: summary scalars + per-report `to_html` tables rendered into
    * one document; its charts are matplotlib and its narrative is an
    * external AI call — both remain out of engine scope, like the
    * reference's own WeasyPrint-optional PDF).
    *
    * Stdlib-only: each section's DataFrame renders as an escaped HTML
    * table; numeric cells format through the same Indonesian-locale
    * helpers as q63 (`graft.functions.Format.numberStr`, the reference's
    * Jinja filters). Presentation layer, so the ONE deliberate
    * driver-side collect in the sink family: every section is capped
    * (`limit(maxRows)` BEFORE collect, default 50 — the reference's own
    * tables are head(10)-sized), so the materialized rows are bounded by
    * config, not data, at any corpus size. `runDate` is caller-supplied
    * (C2 discipline — pinned in tests, `now` in production).
    *
    * Returns the rendered document (also written to `path` when given) so
    * tests and callers can assert on content without a filesystem
    * round-trip. */
  def writeHtmlReport(
      sections: Seq[(String, DataFrame)],
      title: String,
      runDate: String,
      path: Option[String] = None,
      maxRows: Int = 50,
      charts: Seq[(String, String)] = Nil): String = {
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    def cell(v: Any): String = v match {
      case null => ""
      case d: Double => graft.functions.Format.numberStr(d, 2)
      case other => esc(other.toString)
    }
    val body = sections.map { case (name, df) =>
      val cols = df.columns
      val rows = df.limit(maxRows).collect()
      val head = cols.map(c => s"<th>${esc(c)}</th>").mkString
      val trs = rows.map(r =>
        "<tr>" + cols.indices.map(i => s"<td>${cell(r.get(i))}</td>")
          .mkString + "</tr>").mkString("\n")
      s"""<section><h2>${esc(name)}</h2>
         |<table class="table table-sm">
         |<thead><tr>$head</tr></thead>
         |<tbody>
         |$trs
         |</tbody></table></section>""".stripMargin
    }.mkString("\n")
    // charts arrive as already-rendered inline SVG ([[Charts]] — the
    // reference's create_charts PNGs, report_generator.py:69-143); the
    // key doubles as the figure id so tests and readers can anchor them
    val figs = charts.map { case (key, svg) =>
      s"""<figure id="${esc(key)}">$svg</figure>"""
    }.mkString("\n")
    val html =
      s"""<!DOCTYPE html>
         |<html><head><meta charset="utf-8"/>
         |<title>${esc(title)}</title></head>
         |<body>
         |<h1>${esc(title)}</h1>
         |<p>Run date: ${esc(runDate)}</p>
         |$figs
         |$body
         |</body></html>
         |""".stripMargin
    path.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    html
  }

  /** S5 — the Excel sink (`etl_pipeline/load/data_loader.py:55-58`: one
    * `to_excel` summary workbook; the reference delegates to openpyxl).
    * XLSX is a zip of XML parts (ECMA-376 / ISO 29500 — the namespace
    * URIs below are the spec's own required constants), so the JDK
    * stdlib covers the single-sheet case in full: `[Content_Types].xml`
    * + package/workbook relationships + one `sheetData` part. No
    * third-party dependency.
    *
    * Cell mapping: header row then data rows; numeric columns land as
    * NATIVE numeric cells (`t="n"` — spreadsheets compute on them),
    * booleans as `t="b"`, nulls as blank (cell omitted), everything else
    * (strings, dates, timestamps) as inline strings (`t="inlineStr"` —
    * no sharedStrings table to build, the right trade for a one-shot
    * writer; date STYLING needs a styles part, out of minimal scope, so
    * temporal values are ISO-8601 text — openpyxl's default rendering of
    * an unstyled date is the same text).
    *
    * Presentation layer, same discipline as [[writeHtmlReport]]: ONE
    * driver-side collect, bounded by `limit(maxRows)` BEFORE collect —
    * the reference's Excel export is a summary workbook, not a bulk
    * path; bulk export is [[chunkedExport]]'s job (S8). */
  def writeXlsx(df: DataFrame, path: String, sheet: String = "Sheet1",
      maxRows: Int = 10000): Unit = {
    // XML 1.0 forbids C0 control chars other than TAB/LF/CR — Excel
    // rejects the whole workbook on one bad byte, so strip them here.
    def esc(s: String): String = s
      .filter(ch => ch == '\t' || ch == '\n' || ch == '\r' || ch >= ' ')
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
    def finite(d: Double): Boolean =
      !java.lang.Double.isNaN(d) && !java.lang.Double.isInfinite(d)
    // 0-based column index → A1-style column letters (A..Z, AA..)
    def colRef(i: Int): String = {
      val sb = new StringBuilder; var n = i
      while (n >= 0) { sb.insert(0, ('A' + n % 26).toChar); n = n / 26 - 1 }
      sb.toString()
    }
    def cellXml(ref: String, v: Any): String = v match {
      case null => ""
      // NaN/Infinity are not valid ECMA-376 numeric cell values — emit a
      // blank cell (same rendering as null), not a corrupt <v>NaN</v>.
      case d: Double if !finite(d) => ""
      case f: Float if !finite(f.toDouble) => ""
      case n @ (_: Long | _: Int | _: Short | _: Byte | _: Double |
                _: Float | _: java.math.BigDecimal | _: BigDecimal) =>
        s"""<c r="$ref" t="n"><v>$n</v></c>"""
      case b: Boolean =>
        s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
      case other =>
        s"""<c r="$ref" t="inlineStr"><is><t>${esc(other.toString)}</t></is></c>"""
    }
    val cols = df.columns
    val rows = df.limit(maxRows).collect()
    val header = cols.zipWithIndex
      .map { case (c, i) => cellXml(s"${colRef(i)}1", c) }.mkString
    val body = rows.zipWithIndex.map { case (r, ri) =>
      val cells = cols.indices
        .map(ci => cellXml(s"${colRef(ci)}${ri + 2}", r.get(ci))).mkString
      s"""<row r="${ri + 2}">$cells</row>"""
    }.mkString("\n")
    val decl = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    val sheetXml =
      s"""$decl
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<sheetData>
         |<row r="1">$header</row>
         |$body
         |</sheetData>
         |</worksheet>""".stripMargin
    val workbookXml =
      s"""$decl
         |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
         | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets><sheet name="${esc(sheet)}" sheetId="1" r:id="rId1"/></sheets>
         |</workbook>""".stripMargin
    val workbookRels =
      s"""$decl
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
         |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
         |</Relationships>""".stripMargin
    val pkgRels =
      s"""$decl
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
         |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
         |</Relationships>""".stripMargin
    val contentTypes =
      s"""$decl
         |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
         |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
         |<Default Extension="xml" ContentType="application/xml"/>
         |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
         |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
         |</Types>""".stripMargin
    val zip = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    try Seq(
      "[Content_Types].xml" -> contentTypes,
      "_rels/.rels" -> pkgRels,
      "xl/workbook.xml" -> workbookXml,
      "xl/_rels/workbook.xml.rels" -> workbookRels,
      "xl/worksheets/sheet1.xml" -> sheetXml
    ).foreach { case (name, content) =>
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zip.closeEntry()
    } finally zip.close()
  }

  /** S7: summary dict → one-row DataFrame (`data_loader.py:44-46`), with
    * the schema derived from the value types. Supported value types:
    * Long/Int, Double, String, Boolean, java.sql.Timestamp. */
  def liftSummary(spark: SparkSession, values: Seq[(String, Any)]): DataFrame = {
    val fields = values.map { case (name, v) =>
      val dt = v match {
        case _: Long | _: Int => LongType
        case _: Double => DoubleType
        case _: String => StringType
        case _: Boolean => BooleanType
        case _: java.sql.Timestamp => TimestampType
        case other => throw new IllegalArgumentException(
          s"Unsupported summary value type for '$name': ${other.getClass}")
      }
      StructField(name, dt, nullable = false)
    }
    val row = Row.fromSeq(values.map {
      case (_, i: Int) => i.toLong
      case (_, v) => v
    })
    spark.createDataFrame(
      java.util.Collections.singletonList(row), StructType(fields))
  }
}
