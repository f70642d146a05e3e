package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
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
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
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
