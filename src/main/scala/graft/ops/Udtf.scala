package graft.ops

import graft.{Dx, Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Parameterized table functions — the reference's PL/pgSQL UDTFs
  * re-expressed as DataFrame-returning Scala functions (SURVEY §2.10: "no
  * Catalyst Generator needed"; a function returning a DataFrame IS the
  * Spark-native set-returning function).
  *
  *  - [[checkReorderPoints]] ⇔ `check_reorder_points(p_warehouse_id)`
  *    (`wsm/database_function/functions.sql:143-176`): snapshot cells
  *    below their reorder point, enriched via the 3-way dimension join
  *    J5 (part ⋈ supplier), deficit subtraction C10, predicate F9 with
  *    the optional-warehouse parameter, positive-stock filter F10.
  *  - [[calculateStockValue]] ⇔ `calculate_stock_value(p_method)`
  *    (`functions.sql:184-240`): AVG implemented — cost pool from a
  *    DIFFERENT table (lineitem ⋈ completed orders — the genuine J3/J6
  *    left-join + coalesce-0 shape), per-part stock totals A15, decimal
  *    precision casts C17; FIFO/LIFO raise, mirroring the reference's
  *    `RAISE EXCEPTION` (`functions.sql:233-238`).
  *
  * Fixture mapping: snapshot cell := (part, supplier) replay of lineitem
  * (A14); `part`/`supplier` play products/warehouses; reorder_point :=
  * p_size × 4 (testdata has no reorder column; any deterministic
  * dimension attribute works — the operator under test is the join +
  * predicate, not the constant); "COMPLETED" := o_orderstatus = 'F'.
  *
  * 100 TB plan: the fact is scanned once per function and immediately
  * collapsed by a (part[, supplier]) hash agg; both dimensions broadcast
  * (parts/suppliers are dimension-sized by definition — this is J5's
  * bread-and-butter BroadcastHashJoin, no fact-derived broadcast). The
  * valuation's lineitem ⋈ orders cost-pool join shuffles both facts on
  * orderkey — the natural co-partitioned key.
  */
object Udtf {

  /** reorder_point := p_size × this factor (see class doc). */
  val REORDER_FACTOR = 4

  /** P3: cells at/below reorder point, optionally for one warehouse. */
  def checkReorderPoints(
      spark: SparkSession, dir: String,
      warehouseId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val cells = Tables(spark, dir, "lineitem")
      .groupBy($"l_partkey".as("part_id"), $"l_suppkey".as("supplier_id"))
      .agg(Dx.dsum(expr("l_quantity")).as("quantity_on_hand"))
    val parts = Tables(spark, dir, "part").select(
      $"p_partkey".as("part_id"),
      $"p_brand".as("sku"),
      $"p_name".as("part_name"),
      ($"p_size" * REORDER_FACTOR).cast("long").as("reorder_point"))
    val suppliers = Tables(spark, dir, "supplier").select(
      $"s_suppkey".as("supplier_id"),
      $"s_name".as("warehouse_name"))
    cells
      .join(broadcast(parts), Seq("part_id"))
      .join(broadcast(suppliers), Seq("supplier_id"))
      .filter(
        $"quantity_on_hand" <= $"reorder_point" &&
          $"quantity_on_hand" > 0.0 &&
          warehouseId.map($"supplier_id" === _).getOrElse(lit(true)))
      .select(
        $"part_id", $"sku", $"part_name",
        $"supplier_id", $"warehouse_name",
        $"quantity_on_hand", $"reorder_point",
        ($"reorder_point" - $"quantity_on_hand").as("deficit"))
      .orderBy($"part_id", $"supplier_id")
  }

  private def reorderOracle(warehouse: Option[Long]): String = {
    val whFilter = warehouse.map(w => s"AND s.supplier_id = $w").getOrElse("")
    s"""WITH s AS (
       |  SELECT l_partkey AS part_id, l_suppkey AS supplier_id,
       |         ${Dx.sqlDsum("l_quantity")} AS quantity_on_hand
       |  FROM lineitem GROUP BY 1, 2
       |)
       |SELECT s.part_id AS part_id, p.p_brand AS sku, p.p_name AS part_name,
       |       s.supplier_id AS supplier_id, w.s_name AS warehouse_name,
       |       s.quantity_on_hand AS quantity_on_hand,
       |       CAST(p.p_size * $REORDER_FACTOR AS BIGINT) AS reorder_point,
       |       (p.p_size * $REORDER_FACTOR) - s.quantity_on_hand AS deficit
       |FROM s
       |JOIN part p ON s.part_id = p.p_partkey
       |JOIN supplier w ON s.supplier_id = w.s_suppkey
       |WHERE s.quantity_on_hand <= p.p_size * $REORDER_FACTOR
       |  AND s.quantity_on_hand > 0.0 $whFilter
       |ORDER BY part_id, supplier_id""".stripMargin
  }

  /** P4: stock valuation by method. AVG is the reference's implemented
    * path; FIFO/LIFO — where the reference RAISEs
    * (`wsm/database_function/functions.sql:233-238`) — are implemented
    * here as ledger layer allocation (see [[stockValuationLayers]]),
    * going beyond reference parity. Unknown methods still throw. */
  def calculateStockValue(
      spark: SparkSession, dir: String, method: String): DataFrame = {
    import spark.implicits._
    if (method == "FIFO" || method == "LIFO") {
      val layers = stockValuationLayers(spark, dir)
      val value =
        if (method == "FIFO") layers("fifo_value") else layers("lifo_value")
      return layers.select(
        $"part_id", $"part_name", $"total_quantity",
        value.as("total_value"))
    }
    if (method != "AVG")
      throw new IllegalArgumentException(
        s"Valuation method '$method' not implemented. Use AVG, FIFO or LIFO. " +
          "(The reference raises for FIFO/LIFO — functions.sql:233-238; " +
          "this engine implements them.)")
    val li = Tables(spark, dir, "lineitem")
    // Cost pool: rows of COMPLETED orders only — a different table than
    // the snapshot, so the left join + coalesce(cost, 0) below is the
    // genuine J3/J6 shape (parts sold only in open orders have no cost).
    val completed = Tables(spark, dir, "orders")
      .filter($"o_orderstatus" === "F")
      .select($"o_orderkey")
    val avgCost = Financial.avgCostByPart(
      li.join(completed, $"l_orderkey" === $"o_orderkey"))
    val totals = li
      .groupBy($"l_partkey".as("part_id"))
      .agg(Dx.dsum(expr("l_quantity")).as("total_quantity"))
    val parts = Tables(spark, dir, "part")
      .select($"p_partkey".as("part_id"), $"p_name".as("part_name"))
    totals
      .join(avgCost, Seq("part_id"), "left")
      .join(broadcast(parts), Seq("part_id"))
      .filter($"total_quantity" > 0.0)
      .select(
        $"part_id", $"part_name", $"total_quantity",
        // C17 decimal precision casts as in the reference, surfaced as
        // doubles so the compare is dtype-stable (Dx.round2 makes the
        // double→decimal cast unambiguous in both engines).
        Dx.round2(coalesce($"avg_cost", lit(0.0)))
          .cast(DecimalType(12, 2)).cast("double").as("weighted_avg_cost"),
        Dx.round2($"total_quantity" * coalesce($"avg_cost", lit(0.0)))
          .cast(DecimalType(16, 2)).cast("double").as("total_value"))
      .orderBy($"part_id")
  }

  private val valuationOracle =
    s"""WITH cost AS (
       |  SELECT l_partkey AS part_id,
       |         CASE WHEN ${Dx.sqlDsum("l_quantity")} = 0.0 THEN 0.0
       |              ELSE ${Dx.sqlDsum("l_extendedprice")} / ${Dx.sqlDsum("l_quantity")}
       |         END AS avg_cost
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_orderstatus = 'F'
       |  GROUP BY 1
       |), totals AS (
       |  SELECT l_partkey AS part_id,
       |         ${Dx.sqlDsum("l_quantity")} AS total_quantity
       |  FROM lineitem GROUP BY 1
       |)
       |SELECT t.part_id AS part_id, p.p_name AS part_name,
       |       t.total_quantity AS total_quantity,
       |       CAST(CAST(${Dx.sqlRound2("COALESCE(c.avg_cost, 0.0)")} AS DECIMAL(12,2)) AS DOUBLE) AS weighted_avg_cost,
       |       CAST(CAST(${Dx.sqlRound2("t.total_quantity * COALESCE(c.avg_cost, 0.0)")} AS DECIMAL(16,2)) AS DOUBLE) AS total_value
       |FROM totals t
       |LEFT JOIN cost c ON t.part_id = c.part_id
       |JOIN part p ON t.part_id = p.p_partkey
       |WHERE t.total_quantity > 0.0
       |ORDER BY part_id""".stripMargin

  /** FIFO + LIFO stock valuation by ledger layer allocation — the surface
    * the reference declares and refuses (`functions.sql:233-238` RAISE
    * EXCEPTION): value the on-hand stock of every (part, warehouse) cell
    * from its receipt layers, then roll up per part.
    *
    * Semantics — PERIODIC layer costing (the allocation runs at
    * valuation time over the period's aggregate on-hand, the method a
    * batch analytics engine naturally computes):
    *  - the ledger is the 'A' (IN) / 'R' (OUT) movement set (the
    *    Warehouse-module convention; warehouse := supplier);
    *  - on_hand(cell) = Σ(+A, −R) quantities;
    *  - FIFO consumes oldest receipts first, so the REMAINING stock is a
    *    suffix of receipts in reverse ship-date order: layer i (newest
    *    first, cumulative qty `cum_desc`) retains
    *    clamp(on_hand − (cum_desc − qty), 0, qty);
    *  - LIFO consumes newest first, so remaining stock is a PREFIX of
    *    receipts in ship-date order — same clamp over the ascending
    *    cumulative, derived as total_receipts − cum_desc + qty (no second
    *    window sort);
    *  - layer value = retained qty × per-receipt unit cost
    *    (extendedprice/quantity rounded to cents, Dx.round2).
    *
    * Periodic vs perpetual: FIFO's remaining stock is the newest-receipts
    * suffix regardless of WHEN issues occurred (as long as on-hand never
    * dips negative), so periodic FIFO ≡ perpetual FIFO. LIFO differs: an
    * issue interleaved between receipts can, under PERPETUAL LIFO, only
    * consume layers existing at issue time (receipt 10@10, issue 5,
    * receipt 10@20 → perpetual 250, periodic 200 — the later receipt
    * shields the early layer only in the perpetual view). This function
    * computes the periodic method; IngestSpec pins that interleaving
    * case so the choice is explicit, not accidental.
    *
    * Exactness: every cumulative/clamp runs in DECIMAL(18,6) (order-
    * independent, so the window tie-break only has to be deterministic up
    * to identical (qty, cost) rows — (shipdate, orderkey, linenumber) is
    * a total order anyway); layer values follow the dsum2 discipline.
    *
    * 100 TB shape: ONE fact scan (A/R pushed to parquet), one shuffle+sort
    * by cell for all three window frames, then an aggregate-sized rollup
    * to parts and a broadcast dim join. No self-join, no per-layer
    * iteration — the allocation is a closed-form window expression. */
  def stockValuationLayers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.Column
    val dec = DecimalType(18, 6)
    val li = Tables(spark, dir, "lineitem")
      .filter($"l_returnflag".isin("A", "R"))
      .select(
        $"l_partkey".as("part_id"), $"l_suppkey".as("warehouse_id"),
        $"l_orderkey", $"l_linenumber", $"l_shipdate", $"l_returnflag",
        $"l_quantity".cast(dec).as("qty_dec"),
        when($"l_returnflag" === "A", $"l_quantity")
          .otherwise(-$"l_quantity").cast(dec).as("signed_dec"),
        Dx.round2($"l_extendedprice" / $"l_quantity").as("unit_cost"))
    val cell = Window.partitionBy($"part_id", $"warehouse_id")
    val newestFirst = cell
      .orderBy($"l_shipdate".desc, $"l_orderkey".desc, $"l_linenumber".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val receiptQty =
      when($"l_returnflag" === "A", $"qty_dec").otherwise(lit(0).cast(dec))
    val enriched = li
      .withColumn("on_hand", sum($"signed_dec").over(cell))
      .withColumn("total_rcpt", sum(receiptQty).over(cell))
      .withColumn("cum_desc", sum(receiptQty).over(newestFirst))
    def retained(cum: Column): Column =
      least($"qty_dec",
        greatest($"on_hand" - (cum - $"qty_dec"), lit(0).cast(dec)))
    val cumAsc = $"total_rcpt" - $"cum_desc" + $"qty_dec"
    def layerValue(cum: Column): Column =
      when($"l_returnflag" === "A",
        Dx.dec(Dx.round2(retained(cum).cast("double") * $"unit_cost")))
    val parts = Tables(spark, dir, "part")
      .select($"p_partkey".as("part_id"), $"p_name".as("part_name"))
    enriched
      .groupBy($"part_id")
      .agg(
        sum($"signed_dec").cast("double").as("total_quantity"),
        coalesce(sum(layerValue($"cum_desc")).cast("double"), lit(0.0))
          .as("fifo_value"),
        coalesce(sum(layerValue(cumAsc)).cast("double"), lit(0.0))
          .as("lifo_value"))
      .filter($"total_quantity" > 0.0)
      .join(broadcast(parts), Seq("part_id"))
      .select($"part_id", $"part_name", $"total_quantity",
        $"fifo_value", $"lifo_value")
      .orderBy($"part_id")
  }

  private val layersOracle = {
    val dec = "DECIMAL(18,6)"
    s"""WITH led AS (
       |  SELECT l_partkey AS part_id, l_suppkey AS warehouse_id,
       |         l_orderkey, l_linenumber, l_shipdate, l_returnflag,
       |         CAST(l_quantity AS $dec) AS qty_dec,
       |         CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity
       |                   ELSE -l_quantity END AS $dec) AS signed_dec,
       |         ${Dx.sqlRound2("l_extendedprice / l_quantity")} AS unit_cost
       |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
       |), w AS (
       |  SELECT *,
       |         SUM(signed_dec) OVER cell AS on_hand,
       |         SUM(CASE WHEN l_returnflag = 'A' THEN qty_dec
       |                  ELSE CAST(0 AS $dec) END) OVER cell AS total_rcpt,
       |         SUM(CASE WHEN l_returnflag = 'A' THEN qty_dec
       |                  ELSE CAST(0 AS $dec) END) OVER (
       |           PARTITION BY part_id, warehouse_id
       |           ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       |         ) AS cum_desc
       |  FROM led
       |  WINDOW cell AS (PARTITION BY part_id, warehouse_id)
       |), v AS (
       |  SELECT part_id,
       |         LEAST(qty_dec, GREATEST(on_hand - (cum_desc - qty_dec),
       |                                 CAST(0 AS $dec))) AS ret_fifo,
       |         LEAST(qty_dec, GREATEST(on_hand - ((total_rcpt - cum_desc
       |                                             + qty_dec) - qty_dec),
       |                                 CAST(0 AS $dec))) AS ret_lifo,
       |         unit_cost, l_returnflag, signed_dec
       |  FROM w
       |)
       |SELECT v.part_id AS part_id, p.p_name AS part_name,
       |       CAST(SUM(signed_dec) AS DOUBLE) AS total_quantity,
       |       COALESCE(CAST(SUM(CASE WHEN l_returnflag = 'A' THEN
       |         CAST(${Dx.sqlRound2("CAST(ret_fifo AS DOUBLE) * unit_cost")}
       |              AS ${Dx.SqlDec}) END) AS DOUBLE), 0.0) AS fifo_value,
       |       COALESCE(CAST(SUM(CASE WHEN l_returnflag = 'A' THEN
       |         CAST(${Dx.sqlRound2("CAST(ret_lifo AS DOUBLE) * unit_cost")}
       |              AS ${Dx.SqlDec}) END) AS DOUBLE), 0.0) AS lifo_value
       |FROM v JOIN part p ON v.part_id = p.p_partkey
       |GROUP BY v.part_id, p.p_name
       |HAVING CAST(SUM(signed_dec) AS DOUBLE) > 0.0
       |ORDER BY part_id""".stripMargin
  }

  /** J7 cross-join densification — the reference generator's snapshot
    * completion (`wsm/data_generator/generate_data.py:389-398`): every
    * (product × warehouse) combination exists in the dense snapshot,
    * cells with no movements null-filled with the defaults (C5:
    * quantity 0, reorder_point 10, safety_stock 5).
    *
    * Scale shape: the cross join multiplies two DIMENSIONS (parts ×
    * warehouses — the only cross join in the system; never a fact). The
    * left join back to the fact-derived cells shuffles on the same
    * (part, supplier) key as the cell aggregate. At 20M parts × 1000
    * warehouses the dense frame is 20G rows — emit it partitioned, or
    * keep the sparse snapshot and densify per-query; both ends are
    * expressible from this one function.
    *
    * The output is UNORDERED (like any relational result): a global sort
    * over the dense frame would be a full-data range shuffle nobody needs
    * at scale. The registered q42 closure adds an `orderBy` purely for
    * driver-compare determinism — that cost belongs to the comparison,
    * not the API. */
  def densifiedSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables(spark, dir, "lineitem")
      .groupBy($"l_partkey".as("part_id"), $"l_suppkey".as("supplier_id"))
      .agg(Dx.dsum(expr("l_quantity")).as("quantity_on_hand"))
    val spine = Tables(spark, dir, "part").select($"p_partkey".as("part_id"))
      .crossJoin(
        Tables(spark, dir, "supplier").select($"s_suppkey".as("supplier_id")))
    spine
      .join(cells, Seq("part_id", "supplier_id"), "left")
      .na.fill(Map("quantity_on_hand" -> 0.0))
      .withColumn("reorder_point", lit(10L))
      .withColumn("safety_stock", lit(5L))
  }

  private val densifiedOracle =
    s"""WITH cells AS (
       |  SELECT l_partkey AS part_id, l_suppkey AS supplier_id,
       |         ${Dx.sqlDsum("l_quantity")} AS quantity_on_hand
       |  FROM lineitem GROUP BY 1, 2
       |)
       |SELECT p.p_partkey AS part_id, s.s_suppkey AS supplier_id,
       |       COALESCE(c.quantity_on_hand, 0.0) AS quantity_on_hand,
       |       CAST(10 AS BIGINT) AS reorder_point,
       |       CAST(5 AS BIGINT) AS safety_stock
       |FROM part p CROSS JOIN supplier s
       |LEFT JOIN cells c
       |  ON p.p_partkey = c.part_id AND s.s_suppkey = c.supplier_id
       |ORDER BY part_id, supplier_id""".stripMargin

  /** Example warehouse parameter for the filtered variant (any valid
    * supplier id; 42 exists at every scale factor). */
  val EXAMPLE_WAREHOUSE = 42L

  val all: Seq[Query] = Seq(
    Query("q31_reorder_alerts",
      "cells at/below reorder point, all warehouses (P3: J5 dim joins, C10 deficit, F9/F10)",
      (s, d) => checkReorderPoints(s, d, None),
      Some(reorderOracle(None)), headline = false),
    Query("q32_reorder_alerts_wh",
      "reorder alerts for one warehouse (P3 parameterized variant)",
      (s, d) => checkReorderPoints(s, d, Some(EXAMPLE_WAREHOUSE)),
      Some(reorderOracle(Some(EXAMPLE_WAREHOUSE))), headline = false),
    Query("q33_stock_valuation_avg",
      "AVG-method valuation: completed-order cost pool, left join + coalesce 0, dim join (P4/J3/J6/C17/F10)",
      (s, d) => calculateStockValue(s, d, "AVG"),
      Some(valuationOracle), headline = false),
    Query("q59_stock_valuation_fifo",
      "FIFO+LIFO layer valuation over the A/R movement ledger — beyond the reference's RAISE (P4)",
      stockValuationLayers, Some(layersOracle), headline = false),
    Query("q42_densified_snapshot",
      "dense part×warehouse snapshot: dim cross join ⟕ cells, default fill (J7/C5)",
      // the orderBy exists only here: driver-compare determinism, not API
      // semantics (densifiedSnapshot returns an unordered frame); the
      // bench times the unordered operator via benchFn
      (s, d) => {
        val df = densifiedSnapshot(s, d)
        df.orderBy(df("part_id"), df("supplier_id"))
      },
      Some(densifiedOracle), headline = false,
      benchFn = Some(densifiedSnapshot)))
}
