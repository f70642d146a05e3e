package graft.ops

import graft.{Dx, Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse performance — the reference's warehouse_performance module
  * (`wsm/etl_pipeline/transform/warehouse_performance.py:15-43`): pair the
  * two legs of each stock transfer, aggregate route patterns, and pivot
  * per-warehouse I/O counts by movement type.
  *
  * Operators covered (SURVEY.md §2): F6 type filter, F7 sign split +
  * project + rename (OUT leg quantity negated, C11), J2 inner self-join of
  * the OUT and IN legs on (reference, product), A9 route patterns with
  * `countDistinct` (exact — `approx_count_distinct` is the stated 100 TB
  * escape hatch if route cardinality ever explodes), A10 the pivot as a
  * FIXED column set of conditional counts (absent types still yield zero
  * columns, `report_generator.py:106`), O2 sort.
  *
  * Fixture mapping: a "transfer" is an order line present with both
  * `l_returnflag='R'` (the OUT leg, warehouse := supplier) and `'A'` (the
  * IN leg), paired on (l_orderkey, l_partkey) — the reference pairs on
  * (reference_id, product_id) (`warehouse_performance.py:28`). The pivot
  * uses the `events` stream: rows per user cohort × the five fixed event
  * types (≈ the five movement types).
  *
  * 100 TB plan: both legs come from ONE filtered projection each of the
  * fact; the self-join shuffles both sides on the SAME key
  * (reference, product) — co-partitioned sort-merge join, no broadcast of
  * fact-derived data. The pattern agg then reshuffles the (already tiny)
  * join output on route. The pivot is one conditional count per fixed
  * event type in a single partial+final hash agg keyed by user — one
  * exchange, and no pass to discover pivot values.
  */
object Warehouse {

  /** F7: the OUT legs — negated quantity, warehouse renamed `from_`. */
  def transfersOut(spark: SparkSession, dir: String): DataFrame =
    outLegs(spark, dir, (-col("l_quantity")).as("qty_out"))

  /** The R-flagged lineitem rows as OUT legs: (reference_id, part_id,
    * from_warehouse_id, `more`…). Ingest's command batch derives from
    * the same rows. */
  private[ops] def outLegs(spark: SparkSession, dir: String,
      more: Column*): DataFrame =
    Tables(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(Seq(
        col("l_orderkey").as("reference_id"),
        col("l_partkey").as("part_id"),
        col("l_suppkey").as("from_warehouse_id")) ++ more: _*)

  /** F7: the IN legs. */
  def transfersIn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .filter($"l_returnflag" === "A")
      .select(
        $"l_orderkey".as("reference_id"),
        $"l_partkey".as("part_id"),
        $"l_suppkey".as("to_warehouse_id"),
        $"l_quantity".as("qty_in"))
  }

  /** J2: one row per paired transfer (OUT ⋈ IN on (reference, part)).
    *
    * The join carries a `merge` hint: both sides are fact-derived, so the
    * scale-correct plan is the co-partitioned sort-merge join (class doc).
    * Without the hint the planner broadcasts the filtered IN side at small
    * scale, and the presentation sort's range-partitioner then SAMPLES its
    * un-materialized child — re-executing the streamed side's parquet scan
    * (one scan node would read 2× the table). With SMJ both
    * scans land in materialized shuffle map stages that run exactly once;
    * the sort's sampling pass re-reads shuffle blocks, not the fact. */
  def transferPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    transfersOut(spark, dir)
      .join(transfersIn(spark, dir).hint("merge"),
        Seq("reference_id", "part_id"))
      .select($"reference_id", $"part_id", $"from_warehouse_id",
        $"to_warehouse_id", $"qty_out", $"qty_in")
      .orderBy($"reference_id", $"part_id", $"from_warehouse_id",
        $"to_warehouse_id")
  }

  private val pairsSql =
    """WITH t_out AS (
      |  SELECT l_orderkey AS reference_id, l_partkey AS part_id,
      |         l_suppkey AS from_warehouse_id, -l_quantity AS qty_out
      |  FROM lineitem WHERE l_returnflag = 'R'
      |), t_in AS (
      |  SELECT l_orderkey AS reference_id, l_partkey AS part_id,
      |         l_suppkey AS to_warehouse_id, l_quantity AS qty_in
      |  FROM lineitem WHERE l_returnflag = 'A'
      |)
      |SELECT t_out.reference_id AS reference_id, t_out.part_id AS part_id,
      |       from_warehouse_id, to_warehouse_id, qty_out, qty_in
      |FROM t_out JOIN t_in
      |  ON t_out.reference_id = t_in.reference_id
      | AND t_out.part_id = t_in.part_id""".stripMargin

  private val pairsOracle =
    s"""SELECT * FROM ($pairsSql
       |) ORDER BY reference_id, part_id, from_warehouse_id, to_warehouse_id""".stripMargin

  /** A9: route patterns — transfers and volume per (from, to) warehouse. */
  def transferPatterns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    transfersOut(spark, dir)
      .join(transfersIn(spark, dir), Seq("reference_id", "part_id"))
      .groupBy($"from_warehouse_id", $"to_warehouse_id")
      .agg(
        countDistinct($"reference_id").as("total_transfers"),
        Dx.dsum($"qty_in").as("total_quantity"))
      .orderBy($"total_transfers".desc, $"from_warehouse_id", $"to_warehouse_id")
  }

  private val patternsOracle =
    s"""WITH pairs AS ($pairsSql
       |)
       |SELECT from_warehouse_id, to_warehouse_id,
       |       CAST(COUNT(DISTINCT reference_id) AS BIGINT) AS total_transfers,
       |       ${Dx.sqlDsum("qty_in")} AS total_quantity
       |FROM pairs GROUP BY 1, 2
       |ORDER BY total_transfers DESC, from_warehouse_id, to_warehouse_id""".stripMargin

  /** O4/O5: the report's top-10 routes — `head(10)` of the sorted pattern
    * table (`report_generator.py:174`) / `ORDER BY ... LIMIT 10`
    * (`test_cases.sql:91-93`). Spark plans TakeOrderedAndProject over the
    * aggregate: per-partition heaps, no global sort. */
  def transferPatternsTop10(spark: SparkSession, dir: String): DataFrame =
    transferPatterns(spark, dir).limit(10)

  private val patternsTop10Oracle = s"$patternsOracle LIMIT 10"

  /** The five fixed pivot values (A10 — fixed so absent types still emit
    * zero-count columns). */
  val EVENT_TYPES: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** A10: per-user I/O summary — one fixed count column per event type. */
  def ioPivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = EVENT_TYPES.map(t => count(when($"event_type" === t, 1)).as(t))
    Tables(spark, dir, "events")
      .groupBy($"user_id")
      .agg(counts.head, counts.tail: _*)
      .orderBy($"user_id")
  }

  private val ioPivotOracle = {
    val cols = EVENT_TYPES.map { t =>
      s"CAST(COUNT(*) FILTER (WHERE event_type = '$t') AS BIGINT) AS $t"
    }.mkString(",\n       ")
    s"""SELECT user_id,
       |       $cols
       |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q16_transfer_pairs",
      "OUT⋈IN transfer legs paired on (reference, part) with sign split (F6/F7/J2/C11)",
      transferPairs, Some(pairsOracle)),
    Query("q17_transfer_patterns",
      "route patterns: countDistinct transfers + volume per (from,to) (A9/O2)",
      transferPatterns, Some(patternsOracle)),
    Query("q18_warehouse_io_pivot",
      "per-user event counts pivoted over the five fixed event types (A10)",
      ioPivot, Some(ioPivotOracle)),
    Query("q46_transfer_patterns_top10",
      "top-10 routes: limit-10 of the sorted pattern table (O4/O5)",
      transferPatternsTop10, Some(patternsTop10Oracle), headline = false))
}
