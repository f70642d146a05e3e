package graft.ops

import graft.{Dx, Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inventory metrics — the reference's inventory_metrics module (its
  * flagship output: `wsm/etl_pipeline/transform/inventory_metrics.py:24-74`,
  * pinned by its own test `tests/test_transformations.py:43-64`).
  *
  * Operators covered (SURVEY.md §2): A1 last-movement per cell, J1 left
  * outer join keeping never-moved stock, C3 datediff, C4 fillna-9999
  * sentinel (never-moved ⇒ dead), F8 dead-stock predicate, A2–A4
  * turnover / span / dead-count scalars with div-0 guards (C9), C12
  * two-decimal rounding, J4 dead-stock valuation join, A8 totals.
  *
  * Fixture mapping: a stock "cell" is (part, supplier); the snapshot is the
  * ledger replay of all lineitem rows (A14 semantics). The movement LOG is
  * the subset with l_returnflag IN ('A','R') — 'N' rows model unlogged
  * initial stock — so ~1/3 of cells genuinely have no logged movement and
  * exercise the left-join NULL → 9999-sentinel path. The reference computes
  * days-since against now(); we pin AS_OF = 2002-01-01 (just past the data's
  * max ship date) so the oracle is reproducible.
  *
  * 100 TB plan: ONE scan of lineitem computes an enriched (part, supplier)
  * cell aggregate ([[cellStats]]) carrying the snapshot quantity, the cost
  * pool, AND the logged-movement stats as conditional aggregations — the
  * reference's separate last-movement aggregate and J1 left join collapse
  * into `max(when(logged, date))` over the same hash agg (null where no
  * logged movement, exactly the left-join-miss semantics). Every consumer
  * in this module (q09 and all four q10 inputs) and q05's valuation
  * ([[Financial.stockValue]]) derive from that one aggregate, and Spark's
  * ReuseExchange collapses the shared subtree, so q10's physical plan
  * reads the fact ONCE.
  * Scalars are 1-row aggs cross-joined (auto-broadcast).
  */
object Inventory {

  /** Fixed "today" for days-since-last-movement — the DEFAULT `asOf` of
    * every consumer below, pinned so the oracle is reproducible (C2).
    * Production callers wanting the reference's now() semantics pass
    * `asOf = current_date()` — one argument, no module edit. */
  val AS_OF = "2002-01-01"

  /** Threshold mirroring the reference config (config.yaml:18). */
  val DEAD_STOCK_DAYS = 180

  /** One-scan enriched cell aggregates: snapshot quantity + cost pool +
    * logged-movement (l_returnflag IN ('A','R')) stats per (part, supplier).
    * Single partial+final hash agg — the shared base of q09/q10. */
  def cellStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val logged = $"l_returnflag".isin("A", "R")
    Tables(spark, dir, "lineitem")
      .groupBy($"l_partkey".as("part_id"), $"l_suppkey".as("supplier_id"))
      .agg(
        Dx.decSum(expr("l_quantity")).as("qty_dec"),
        Dx.decSum(expr("l_extendedprice")).as("cost_dec"),
        // A1 + J1: conditional max == left join to the logged-only aggregate
        // (null where the cell has no logged movement).
        max(when(logged, $"l_shipdate")).as("last_movement_date"),
        // A2/A3 inputs, rolled up globally later (sum/max of per-cell
        // partials == global aggregates over the logged subset).
        Dx.decSum(when(logged, $"l_quantity")).as("sold_qty_dec"),
        min(when(logged, $"l_shipdate")).as("first_logged_date"))
  }

  /** The valuation of [[cellStats]] cells (q05, q10): `quantity_on_hand`
    * := `quantity`; `avg_cost` := the part's Σcost / Σqty (0 where Σqty is
    * 0), summed DECIMAL in the window, so exact and order-independent;
    * `stock_value` := quantity_on_hand × avg_cost. */
  private[ops] def valued(cells: DataFrame, quantity: Column): DataFrame = {
    val perPart = Window.partitionBy(col("part_id"))
    cells
      .withColumn("part_qty", sum(col("qty_dec")).over(perPart).cast("double"))
      .withColumn("part_cost", sum(col("cost_dec")).over(perPart).cast("double"))
      .withColumn("avg_cost", when(col("part_qty") === 0.0, 0.0)
        .otherwise(col("part_cost") / col("part_qty")))
      .withColumn("quantity_on_hand", quantity)
      .withColumn("stock_value", col("quantity_on_hand") * col("avg_cost"))
  }

  /** All stock cells flagged with is_dead_stock (the pre-filter table).
    * `asOf` is any date-castable Column — defaults to the pinned [[AS_OF]];
    * pass `current_date()` for live now() semantics. */
  def deadStockFlags(spark: SparkSession, dir: String,
      asOf: Column = lit(AS_OF)): DataFrame = {
    import spark.implicits._
    cellStats(spark, dir)
      .withColumn("quantity_on_hand", $"qty_dec".cast("double"))
      .withColumn("days_since_last_movement",
        coalesce(
          datediff(to_date(asOf), to_date($"last_movement_date")),
          lit(9999)))
      .withColumn("is_dead_stock",
        $"days_since_last_movement" > DEAD_STOCK_DAYS &&
          $"quantity_on_hand" > 0.0)
  }

  /** q09: the dead-stock report (only dead rows, like the reference's
    * `data_frames['dead_stock_report']`). */
  def deadStockReport(spark: SparkSession, dir: String,
      asOf: Column = lit(AS_OF)): DataFrame = {
    import spark.implicits._
    deadStockFlags(spark, dir, asOf)
      .filter($"is_dead_stock")
      .select($"part_id", $"supplier_id", $"quantity_on_hand",
        $"last_movement_date", $"days_since_last_movement")
      .orderBy($"part_id", $"supplier_id")
  }

  /** Oracle CTE `last_move`: each (part, supplier) cell's last A/R
    * movement date. */
  private val lastMoveSql =
    """), last_move AS (
      |  SELECT l_partkey AS part_id, l_suppkey AS supplier_id,
      |         MAX(l_shipdate) AS last_movement_date
      |  FROM lineitem WHERE l_returnflag IN ('A','R') GROUP BY 1, 2""".stripMargin

  private val deadStockSql =
    s"""WITH cells AS (
       |  SELECT l_partkey AS part_id, l_suppkey AS supplier_id,
       |         ${Dx.sqlDsum("l_quantity")} AS quantity_on_hand
       |  FROM lineitem GROUP BY 1, 2
       |$lastMoveSql
       |), flagged AS (
       |  SELECT cells.part_id, cells.supplier_id, cells.quantity_on_hand,
       |         last_move.last_movement_date,
       |         COALESCE(date_diff('day', CAST(last_move.last_movement_date AS DATE),
       |                            DATE '$AS_OF'), 9999) AS days_since_last_movement
       |  FROM cells LEFT JOIN last_move
       |    ON cells.part_id = last_move.part_id
       |   AND cells.supplier_id = last_move.supplier_id
       |)
       |SELECT part_id, supplier_id, quantity_on_hand, last_movement_date,
       |       CAST(days_since_last_movement AS INT) AS days_since_last_movement
       |FROM flagged
       |WHERE days_since_last_movement > $DEAD_STOCK_DAYS AND quantity_on_hand > 0.0""".stripMargin

  private val deadStockOracle =
    s"SELECT * FROM ($deadStockSql\n) ORDER BY part_id, supplier_id"

  /** q10: one-row inventory summary — dead-stock count + value (J4/A4/A8),
    * stock turnover ratio (A2) and days-of-inventory-on-hand (A3), with the
    * reference's div-0 guards and two-decimal presentation
    * (`inventory_metrics.py:48-74`). */
  def inventorySummary(spark: SparkSession, dir: String,
      asOf: Column = lit(AS_OF)): DataFrame = {
    import spark.implicits._
    // J4: the reference prices dead stock by joining the valuation table on
    // the cell key; here the valuation derives from the SAME cell aggregate,
    // so the per-part window rollup prices each cell in place and the join
    // is the identity — identical semantics/oracle, zero extra scans.
    //
    // The whole summary is then ONE linear plan: scan → cell hash agg →
    // per-part window → single global conditional aggregate. Branching into
    // separate scalar aggs would re-scan the fact per branch, because
    // column pruning makes each branch's aggregate canonically different —
    // conditional aggregation over one pass is the scale-correct shape.
    valued(deadStockFlags(spark, dir, asOf), $"quantity_on_hand")
      .agg(
        count(when($"is_dead_stock", lit(1))).cast("long")
          .as("total_dead_stock_items"),
        coalesce(
          sum(when($"is_dead_stock", Dx.dec(Dx.round2($"stock_value"))))
            .cast("double"),
          lit(0.0)).as("total_dead_stock_value"),
        sum($"sold_qty_dec").cast("double").as("total_qty_sold"),
        greatest(
          datediff(
            to_date(max($"last_movement_date")),
            to_date(min($"first_logged_date"))),
          lit(1)).as("span_days"),
        (sum($"qty_dec").cast("double") / count(lit(1)))
          .as("avg_inventory_qty"))
      .select(
        $"total_dead_stock_items",
        $"total_dead_stock_value",
        Dx.round2(
          when($"avg_inventory_qty" > 0.0,
            $"total_qty_sold" / $"avg_inventory_qty").otherwise(0.0))
          .as("stock_turnover_ratio"),
        Dx.round2(
          when($"total_qty_sold" > 0.0,
            $"avg_inventory_qty" / $"total_qty_sold" * $"span_days")
            .otherwise(0.0))
          .as("days_of_inventory_on_hand"))
  }

  private val inventorySummaryOracle = {
    val stockValueCells =
      s"""SELECT l_partkey AS part_id, l_suppkey AS supplier_id,
         |       ${Dx.sqlDsum("l_quantity")} AS qoh,
         |       ${Dx.sqlDsum("l_extendedprice")} AS cost_sum,
         |       ${Dx.sqlDsum("l_quantity")} AS qty_sum
         |FROM lineitem GROUP BY 1, 2""".stripMargin
    s"""WITH dead AS ($deadStockSql
       |), sv0 AS ($stockValueCells
       |), sv AS (
       |  SELECT part_id, supplier_id,
       |         qoh * (CASE WHEN CAST(${Dx.sqlDecSum("qty_sum")} OVER (PARTITION BY part_id) AS DOUBLE) = 0.0
       |                     THEN 0.0
       |                     ELSE CAST(${Dx.sqlDecSum("cost_sum")} OVER (PARTITION BY part_id) AS DOUBLE)
       |                          / CAST(${Dx.sqlDecSum("qty_sum")} OVER (PARTITION BY part_id) AS DOUBLE)
       |                END) AS stock_value
       |  FROM sv0
       |), dead_agg AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS total_dead_stock_items,
       |         COALESCE(${Dx.sqlDsum2("sv.stock_value")}, 0.0) AS total_dead_stock_value
       |  FROM dead JOIN sv ON dead.part_id = sv.part_id AND dead.supplier_id = sv.supplier_id
       |), sold AS (
       |  SELECT ${Dx.sqlDsum("l_quantity")} AS total_qty_sold,
       |         GREATEST(date_diff('day', CAST(MIN(l_shipdate) AS DATE),
       |                            CAST(MAX(l_shipdate) AS DATE)), 1) AS span_days
       |  FROM lineitem WHERE l_returnflag IN ('A','R')
       |), inv AS (
       |  SELECT CAST(SUM(qty_dec) AS DOUBLE) / COUNT(*) AS avg_inventory_qty
       |  FROM (SELECT ${Dx.sqlDecSum("l_quantity")} AS qty_dec
       |        FROM lineitem GROUP BY l_partkey, l_suppkey)
       |)
       |SELECT total_dead_stock_items, total_dead_stock_value,
       |       ${Dx.sqlRound2("CASE WHEN avg_inventory_qty > 0.0 THEN total_qty_sold / avg_inventory_qty ELSE 0.0 END")} AS stock_turnover_ratio,
       |       ${Dx.sqlRound2("CASE WHEN total_qty_sold > 0.0 THEN avg_inventory_qty / total_qty_sold * span_days ELSE 0.0 END")} AS days_of_inventory_on_hand
       |FROM dead_agg, sold, inv""".stripMargin
  }

  // ---------------------------------------------------------------- q110

  /** Inventory aging report — the graded generalization of q09's binary
    * dead-stock cut: every positive-stock cell lands in a
    * days-since-last-logged-movement bucket (0–30 / 31–90 / 91–180 /
    * 181+ / never-moved, the 9999 sentinel kept distinct), with cell
    * counts and exact-decimal quantity/value totals per bucket — the
    * slow-moving-stock histogram a warehouse review reads before the
    * dead-stock list. Bucket labels sort lexicographically on purpose.
    *
    * 100 TB shape: rides [[cellStats]]' one scan + one cell-keyed hash
    * agg; the bucket rollup collapses cell-grain to ≤5 rows, decimals
    * stay decimal until the final cast. */
  def stockAging(spark: SparkSession, dir: String,
      asOf: Column = lit(AS_OF)): DataFrame = {
    import spark.implicits._
    deadStockFlags(spark, dir, asOf)
      .filter($"quantity_on_hand" > 0.0)
      .withColumn("age_bucket",
        when($"days_since_last_movement" === 9999, "never-moved")
          .when($"days_since_last_movement" <= 30, "000-030")
          .when($"days_since_last_movement" <= 90, "031-090")
          .when($"days_since_last_movement" <= 180, "091-180")
          .otherwise("181+"))
      .groupBy($"age_bucket")
      .agg(
        count(lit(1)).cast("long").as("n_cells"),
        sum($"qty_dec").cast("double").as("total_qty"),
        sum($"cost_dec").cast("double").as("total_value"))
      .orderBy($"age_bucket")
  }

  private val stockAgingOracle =
    s"""WITH cells AS (
       |  SELECT l_partkey AS part_id, l_suppkey AS supplier_id,
       |         ${Dx.sqlDecSum("l_quantity")} AS qty_dec,
       |         ${Dx.sqlDecSum("l_extendedprice")} AS cost_dec
       |  FROM lineitem GROUP BY 1, 2
       |$lastMoveSql
       |), flagged AS (
       |  SELECT cells.qty_dec, cells.cost_dec,
       |         COALESCE(date_diff('day',
       |                            CAST(last_move.last_movement_date AS DATE),
       |                            DATE '$AS_OF'), 9999) AS days_since
       |  FROM cells LEFT JOIN last_move
       |    ON cells.part_id = last_move.part_id
       |   AND cells.supplier_id = last_move.supplier_id
       |  WHERE CAST(cells.qty_dec AS DOUBLE) > 0.0
       |)
       |SELECT CASE WHEN days_since = 9999 THEN 'never-moved'
       |            WHEN days_since <= 30 THEN '000-030'
       |            WHEN days_since <= 90 THEN '031-090'
       |            WHEN days_since <= 180 THEN '091-180'
       |            ELSE '181+' END AS age_bucket,
       |       CAST(COUNT(*) AS BIGINT) AS n_cells,
       |       CAST(SUM(qty_dec) AS DOUBLE) AS total_qty,
       |       CAST(SUM(cost_dec) AS DOUBLE) AS total_value
       |FROM flagged GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q09_dead_stock_report",
      "cells with no logged movement in 180 days and positive stock (A1/J1/C3/C4/F8)",
      (s, d) => deadStockReport(s, d), Some(deadStockOracle)),
    Query("q10_inventory_summary",
      "one-row dead-stock count+value, turnover ratio, days-of-inventory (A2-A4/J4/C9/C12)",
      (s, d) => inventorySummary(s, d), Some(inventorySummaryOracle)),
    Query("q110_stock_aging",
      "inventory aging histogram: positive-stock cells bucketed by days since last logged movement, exact-decimal totals",
      (s, d) => stockAging(s, d), Some(stockAgingOracle), headline = false))
}
