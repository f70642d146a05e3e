package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types._

/** Parquet sources for the driver testdata (TESTDATA.md): TPC-H-ish star
  * schema + `events` stream table + `documents`/`embeddings` for the
  * LLM-pipeline operators.
  *
  * These play the roles of the reference warehouse tables (survey: SURVEY.md
  * §7.1, mapping in FIXTURES.md §3): `lineitem` ≈ sales_order_details +
  * stock_movements fact, `part` ≈ products, `supplier`/`nation` ≈
  * warehouse geography, `events` ≈ the stock_movements ledger.
  *
  * Scale notes (100 TB design): all readers are plain columnar parquet scans
  * — Catalyst pushes filters (`PushedFilters`) and prunes columns
  * (`ReadSchema`) into the scan, so every downstream operator should express
  * predicates/projections declaratively and NEVER cache or collect a base
  * table. At cluster scale the same code runs over partitioned object-store
  * layouts; nothing here assumes a single file.
  *
  * Run snapshot ([[Snapshot]]): inside one [[Pipeline.run]] every
  * `Tables(spark, dataDir, name)` resolves `name` once — one file listing,
  * one schema inference, also when reports ask for it concurrently — and
  * each call gets a fresh relation over that resolved source, so all of a
  * run's reports read the same file set. The snapshot shares a resolved
  * relation (file listing and schema), not data: no rows are cached, and
  * the snapshot is gone when the run returns or throws. Outside a run
  * every call resolves anew.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = Option(inRun.get).filter(_.covers(spark, dir))
      .fold(source(spark, dir, name))(_.relation(name))
    if (dir.startsWith("jdbc:")) raw
    else {
      // The testdata has shipped timestamp columns with three physical
      // encodings across driver regenerations — TIMESTAMP(NANOS) (read as
      // raw Long via the legacy conf), timestamp[us] without tz (read as
      // TIMESTAMP_NTZ), and timestamp[us] UTC-adjusted (read as
      // TIMESTAMP). Normalize ALL of them to TimestampType (epoch micros)
      // HERE, by dataType, so downstream operators see one type:
      //  - TIMESTAMP_NTZ (any table): cast to TIMESTAMP. Sessions run
      //    with spark.sql.session.timeZone=UTC, so the wall-clock is
      //    taken as UTC — the same interpretation DuckDB applies to a
      //    naive timestamp[us] column. Bit-identical epoch micros.
      //  - events.ts as LongType (nanos): floor-divide to micros —
      //    exactly DuckDB's native nanos→micros truncation.
      //  - TIMESTAMP: already the normal form; pass through.
      // An engine claiming 100 TB robustness reads whatever encoding the
      // upstream writer (pandas/arrow version of the day) produced.
      // Casts are per-column projections fused into the scan — no extra
      // pass, and pushdown/pruning are unaffected.
      val ntzFixed = raw.schema.fields.foldLeft(raw) { (df, f) =>
        if (f.dataType == TimestampNTZType)
          df.withColumn(f.name, col(f.name).cast(TimestampType))
        else df
      }
      if (name == "events") ntzFixed.schema("ts").dataType match {
        case LongType =>
          ntzFixed.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType => ntzFixed
        case other => throw new IllegalStateException(
          s"events.ts: unsupported parquet encoding $other — extend " +
            "graft.Tables' ts normalization for this new testdata drift")
      }
      else ntzFixed
    }
  }

  /** The tables under one input dir, each resolved once for the duration
    * of a run; [[Pipeline.run]] evaluates its input reads inside [[apply]]. */
  final class Snapshot(spark: SparkSession, dir: String) {
    // the lazy val resolves once under concurrent first use; a failed
    // resolution throws to every caller that tries it
    private final class Resolved(name: String) {
      lazy val relation: BaseRelation =
        source(spark, dir, name).queryExecution.analyzed match {
          case r: LogicalRelation => r.relation
          case other => throw new IllegalStateException(
            s"Tables.Snapshot: $dir/$name resolved to ${other.nodeName}, " +
              "not a relation")
        }
    }
    private val resolved = new ConcurrentHashMap[String, Resolved]

    private[Tables] def covers(s: SparkSession, d: String): Boolean =
      (s eq spark) && d == dir

    /** A new relation (fresh attribute ids, so one report may join a
      * table with itself) over `name` as this snapshot resolved it. */
    private[Tables] def relation(name: String): DataFrame =
      spark.baseRelationToDataFrame(
        resolved.computeIfAbsent(name, new Resolved(_)).relation)

    /** `body` on this thread, with `Tables(spark, dir, _)` answering from
      * this snapshot. */
    def apply[T](body: => T): T = {
      val outer = inRun.get
      inRun.set(this)
      try body finally inRun.set(outer)
    }
  }

  private val inRun = new ThreadLocal[Snapshot]

  /** The data files of table `name` under `dir` as it holds them now:
    * each file's `name:size:mtime`, sorted and comma-joined, or `absent`
    * when the table has no directory. Rewriting the table in place (the
    * ScaleGen workflow) changes it, so an artifact keyed by it is rebuilt
    * instead of served stale. A `jdbc:` dir cannot be listed: its
    * fingerprint is empty, so a key over it is the URL alone. */
  def fingerprint(spark: SparkSession, dir: String, name: String): String =
    if (dir.startsWith("jdbc:")) ""
    else {
      val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(path))
        fs.listStatus(path).filter(_.isFile)
          .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
          .sorted.mkString(",")
      else "absent"
    }

  /** `name` as the source under `dir` holds it now, before [[apply]]
    * normalizes its timestamps. */
  private def source(spark: SparkSession, dir: String, name: String): DataFrame =
    if (dir.startsWith("jdbc:")) {
      // S1 JDBC pass-through (`wsm/etl_pipeline/extract/data_extractor
      // .py:27-36`: seven `SELECT *` over a warehouse connection): `dir`
      // is the connection URL and `name` the table — so EVERY registered
      // operator runs unchanged against a JDBC warehouse by passing the
      // URL where the parquet dir usually goes. Catalyst pushes filters
      // into the remote query (`PushedFilters` on the scan) and prunes
      // columns into the SELECT list, same as the parquet path. For a
      // parallel extract at scale use [[jdbcPartitioned]] — a plain JDBC
      // read is a single connection/partition by design.
      spark.read.format("jdbc")
        .option("url", dir).option("dbtable", name).load()
    } else {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.read.parquet(s"$dir/$name.parquet")
    }

  /** Register every warehouse table as a temp view, giving users the full
    * `spark.sql` surface over the same sources the Column-API operators
    * read — `registerViews(spark, dir); spark.sql("SELECT ... FROM
    * lineitem JOIN part ...")`. Views are lazy (no scan happens here) and
    * carry the same pushdown/pruning as the DataFrame path; combined with
    * [[graft.GraftExtensions]] the native expressions are callable from
    * that SQL too. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** Range-partitioned JDBC extract — the scale path for S1: `n` executor
    * tasks each issue a bounded `WHERE partCol BETWEEN …` slice, so a
    * 10⁹-row warehouse table extracts with cluster parallelism instead of
    * one connection. Bounds need not be tight (empty slices are cheap);
    * the usual key is the table's synthetic PK. */
  def jdbcPartitioned(
      spark: SparkSession, url: String, table: String, partCol: String,
      lower: Long, upper: Long, n: Int): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partCol)
      .option("lowerBound", lower).option("upperBound", upper)
      .option("numPartitions", n)
      .load()
}
