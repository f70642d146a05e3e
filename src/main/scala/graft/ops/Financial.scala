package graft.ops

import graft.{Dx, Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Financial analytics — the reference's financial_metrics module
  * re-expressed over the TPC-H-ish testdata.
  *
  * Reference behavior covered (SURVEY.md §2): revenue per product (A5),
  * ABC Pareto classification via windowed cumulative share (W1/W2 + C13,
  * `wsm/etl_pipeline/transform/financial_metrics.py:22-41`), class counts
  * (A6), weighted average cost (A7, `financial_metrics.py:60-62` and
  * `wsm/database_function/functions.sql:200-212`), stock valuation (J3/C8,
  * `financial_metrics.py:65-69`), top-k by value (O3,
  * `load/report_generator.py:124`), and the one-row financial summary (A8).
  *
  * Scale design: revenue/cost aggregations are partial+final hash aggs over
  * the fact table keyed by part — the natural shuffle key; dimension joins
  * broadcast. The ABC cumulative window orders globally, which Spark plans
  * as a single-partition window — fine for dimension-sized inputs (#parts ≪
  * facts; 20M parts at 100 TB still fits one task after the aggregation
  * collapses the fact table). If parts themselves were huge, swap in the
  * two-pass partition-prefix-sum (per-partition totals broadcast as
  * offsets); decimal arithmetic makes that refactor bit-identical.
  */
object Financial {

  /** Discounted revenue. Summed via [[Dx.dsum]] (raw decimal cast, no cents
    * rounding): valid ONLY because the fixture prices/discounts are ≤2-dp, so
    * the product is ≤6-dp exact and clear of the DECIMAL(30,6) rounding
    * boundary in both engines. If fixture precision ever exceeds 2 dp, route
    * sums of this through [[Dx.dsum2]] instead (see its doc). */
  private val REV = "l_extendedprice * (1.0 - l_discount)"

  /** Core ABC computation (thresholds mirror the reference config: A≤0.80,
    * B≤0.95 cumulative, inclusive boundaries pinned by its own unit test —
    * `wsm/etl_pipeline/tests/test_transformations.py:66-90`) WITHOUT the
    * cosmetic final sort, so consumers that re-aggregate (class counts)
    * don't inherit a useless global `orderBy`. */
  def abcCore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables(spark, dir, "lineitem")
    val rev = li
      .groupBy($"l_partkey".as("part_id"))
      .agg(Dx.decSum(expr(REV)).as("rev_dec"))
    // Exact decimal prefix sum. smallInput = true: the input is ONE ROW PER
    // PART (dimension-bounded by construction — the fact table collapsed in
    // the aggregate above), so the single-partition window is the cheaper
    // plan; at catalog sizes where #parts itself is huge, flip the flag to
    // get Scale.prefixSum's distributed two-pass — the ScalaCheck property
    // pins both paths bit-identical, so the flip is a config change, not a
    // correctness question.
    val ranked = Scale.prefixSum(
      rev, Seq($"rev_dec".desc, $"part_id".asc), $"rev_dec",
      "cum_dec", "tot_dec", smallInput = true)
    ranked
      .withColumn("revenue_percent",
        $"cum_dec".cast("double") / $"tot_dec".cast("double"))
      .select(
        $"part_id",
        $"rev_dec".cast("double").as("revenue"),
        $"cum_dec".cast("double").as("revenue_cumsum"),
        $"tot_dec".cast("double").as("total_revenue"),
        $"revenue_percent",
        when($"revenue_percent" <= 0.80, "A")
          .when($"revenue_percent" <= 0.95, "B")
          .otherwise("C")
          .as("abc_class"))
  }

  /** Revenue per part with exact decimal cumsum, Pareto share and ABC class
    * (presentation order: by part_id). */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    abcCore(spark, dir).orderBy($"part_id")
  }

  /** Oracle CTEs `rev` (part_id, rev_dec) and `w` (adds the exact
    * decimal cumsum `cum_dec` by revenue rank and the total `tot_dec`). */
  private val abcCtes =
    s"""rev AS (
       |  SELECT l_partkey AS part_id,
       |         ${Dx.sqlDecSum(s"($REV)")} AS rev_dec
       |  FROM lineitem GROUP BY 1
       |), w AS (
       |  SELECT part_id, rev_dec,
       |         SUM(rev_dec) OVER (ORDER BY rev_dec DESC, part_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec,
       |         SUM(rev_dec) OVER () AS tot_dec
       |  FROM rev
       |)""".stripMargin

  /** [[abcCore]]'s class cut over `w`'s cumulative share. */
  private val abcClassSql =
    """CASE WHEN CAST(cum_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE) <= 0.80 THEN 'A'
      |            WHEN CAST(cum_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE) <= 0.95 THEN 'B'
      |            ELSE 'C' END AS abc_class""".stripMargin

  private val abcOracle =
    s"""WITH $abcCtes
       |SELECT part_id,
       |       CAST(rev_dec AS DOUBLE) AS revenue,
       |       CAST(cum_dec AS DOUBLE) AS revenue_cumsum,
       |       CAST(tot_dec AS DOUBLE) AS total_revenue,
       |       CAST(cum_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE) AS revenue_percent,
       |       $abcClassSql
       |FROM w ORDER BY part_id""".stripMargin

  /** ABC class counts (A6). */
  def abcClassCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    abcCore(spark, dir)
      .groupBy($"abc_class")
      .agg(count(lit(1)).cast("long").as("n_parts"))
      .orderBy($"abc_class")
  }

  private val abcCountsOracle =
    s"""WITH $abcCtes
       |SELECT $abcClassSql,
       |       CAST(COUNT(*) AS BIGINT) AS n_parts
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** Weighted average unit cost per part (A7). */
  def weightedAvgCost(spark: SparkSession, dir: String): DataFrame =
    avgCostByPart(Tables(spark, dir, "lineitem")).orderBy(col("part_id"))

  /** A7 over lineitem rows `li`: (part_id, avg_cost), Σ extendedprice /
    * Σ quantity per part, with the reference's explicit zero-denominator
    * guard (`functions.sql:204-207`). */
  private[ops] def avgCostByPart(li: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    li.groupBy($"l_partkey".as("part_id"))
      .agg(
        Dx.dsum(expr("l_extendedprice")).as("cost_sum"),
        Dx.dsum(expr("l_quantity")).as("qty_sum"))
      .select(
        $"part_id",
        when($"qty_sum" === 0.0, 0.0)
          .otherwise($"cost_sum" / $"qty_sum")
          .as("avg_cost"))
  }

  private val weightedAvgCostOracle =
    s"""SELECT l_partkey AS part_id,
       |       CASE WHEN ${Dx.sqlDsum("l_quantity")} = 0.0 THEN 0.0
       |            ELSE ${Dx.sqlDsum("l_extendedprice")} / ${Dx.sqlDsum("l_quantity")}
       |       END AS avg_cost
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Stock valuation per (part, supplier) cell: quantity-on-hand proxy ×
    * per-part weighted cost (C8; the reference joins a cost table, J3 —
    * here both sides derive from the same fact, so the cell aggregate
    * [[Inventory.cellStats]] is valued in place by [[Inventory.valued]]'s
    * per-part window; the genuine left-join + coalesce-0 J3 shape lives in
    * [[Udtf.calculateStockValue]], where the cost pool comes from a
    * different table).
    *
    * 100 TB plan: one scan of lineitem → partial+final hash agg keyed
    * (part, supplier), the cell columns this report does not read pruned
    * away → window partitionBy(part) over the already-aggregated cells
    * (same key prefix, a dimension-sized exchange, no fact re-scan, no
    * broadcast of a fact-derived aggregate, which would not scale). */
  def stockValue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Inventory.valued(Inventory.cellStats(spark, dir), $"qty_dec".cast("double"))
      .select("part_id", "supplier_id", "quantity_on_hand", "avg_cost", "stock_value")
      .orderBy($"part_id", $"supplier_id")
  }

  // shared with functions.Format's q63 oracle (the formatted twin)
  private[graft] val stockValueSql =
    s"""WITH cost AS (
       |  SELECT l_partkey AS part_id,
       |         CASE WHEN ${Dx.sqlDsum("l_quantity")} = 0.0 THEN 0.0
       |              ELSE ${Dx.sqlDsum("l_extendedprice")} / ${Dx.sqlDsum("l_quantity")}
       |         END AS avg_cost
       |  FROM lineitem GROUP BY 1
       |), cells AS (
       |  SELECT l_partkey AS part_id, l_suppkey AS supplier_id,
       |         ${Dx.sqlDsum("l_quantity")} AS quantity_on_hand
       |  FROM lineitem GROUP BY 1, 2
       |)
       |SELECT cells.part_id AS part_id, cells.supplier_id AS supplier_id,
       |       cells.quantity_on_hand AS quantity_on_hand,
       |       COALESCE(cost.avg_cost, 0.0) AS avg_cost,
       |       cells.quantity_on_hand * COALESCE(cost.avg_cost, 0.0) AS stock_value
       |FROM cells LEFT JOIN cost ON cells.part_id = cost.part_id""".stripMargin

  private val stockValueOracle =
    s"SELECT * FROM (${stockValueSql}\n) ORDER BY part_id, supplier_id"

  /** Top-10 stock-value cells (O3 `nlargest(10)`) — Spark plans
    * TakeOrderedAndProject: no global sort, per-partition heaps. */
  def top10StockValue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    stockValue(spark, dir)
      .orderBy($"stock_value".desc, $"part_id".asc, $"supplier_id".asc)
      .limit(10)
  }

  private val top10Oracle =
    s"SELECT * FROM (${stockValueSql}\n) ORDER BY stock_value DESC, part_id, supplier_id LIMIT 10"

  /** One-row financial summary (A8 + S7): exact total over the valuation. */
  def financialSummary(spark: SparkSession, dir: String): DataFrame =
    summaryOf(stockValue(spark, dir))

  /** The financial summary of a [[stockValue]]-shaped frame — also of the
    * `stock_value_report` a pipeline run just wrote. Every sum is exact,
    * so the result does not depend on the frame's row order. */
  def summaryOf(sv: DataFrame): DataFrame =
    sv.agg(
      Dx.dsum2(col("stock_value")).as("total_inventory_value"),
      Dx.dsum(col("quantity_on_hand")).as("total_units"),
      count(lit(1)).cast("long").as("n_stock_cells"))

  private val financialSummaryOracle =
    s"""WITH sv AS (${stockValueSql})
       |SELECT ${Dx.sqlDsum2("stock_value")} AS total_inventory_value,
       |       ${Dx.sqlDsum("quantity_on_hand")} AS total_units,
       |       CAST(COUNT(*) AS BIGINT) AS n_stock_cells
       |FROM sv""".stripMargin

  /** Daily revenue + exact running total over ship date (W1 over time). */
  def runningRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // date_trunc (timestamp), not to_date: DATE columns round-trip through
    // parquet/pandas differently per engine; TIMESTAMP is portable.
    val daily = Tables(spark, dir, "lineitem")
      .groupBy(date_trunc("day", $"l_shipdate").as("ship_day"))
      .agg(Dx.decSum(expr(REV)).as("rev_dec"))
    // smallInput: bucket count is calendar-bounded (≤ thousands of rows for
    // decades of data at any fact scale).
    Scale.prefixSum(daily, Seq($"ship_day".asc), $"rev_dec", "cum_dec", "__tot",
      smallInput = true)
      .select(
        $"ship_day",
        $"rev_dec".cast("double").as("revenue"),
        $"cum_dec".cast("double").as("cum_revenue"))
      .orderBy($"ship_day")
  }

  private val runningRevenueOracle =
    s"""WITH daily AS (
       |  SELECT date_trunc('day', l_shipdate) AS ship_day,
       |         ${Dx.sqlDecSum(s"($REV)")} AS rev_dec
       |  FROM lineitem GROUP BY 1
       |)
       |SELECT ship_day,
       |       CAST(rev_dec AS DOUBLE) AS revenue,
       |       CAST(SUM(rev_dec) OVER (ORDER BY ship_day
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue
       |FROM daily ORDER BY ship_day""".stripMargin

  /** TPC-H-Q1-style pricing summary — the scan→filter→hash-agg headline
    * (covers S1/F5/A-family in one plan; also the bench flagship). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        Dx.dsum(expr("l_quantity")).as("sum_qty"),
        Dx.dsum(expr("l_extendedprice")).as("sum_base_price"),
        Dx.dsum(expr(REV)).as("sum_disc_price"),
        Dx.dsum(expr(s"($REV) * (1.0 + l_tax)")).as("sum_charge"),
        (Dx.decSum(expr("l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
        (Dx.decSum(expr("l_extendedprice")).cast("double") / count(lit(1))).as("avg_price"),
        (Dx.decSum(expr("l_discount")).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).cast("long").as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  private val pricingSummaryOracle =
    s"""SELECT l_returnflag, l_linestatus,
       |       ${Dx.sqlDsum("l_quantity")} AS sum_qty,
       |       ${Dx.sqlDsum("l_extendedprice")} AS sum_base_price,
       |       ${Dx.sqlDsum(REV)} AS sum_disc_price,
       |       ${Dx.sqlDsum(s"($REV) * (1.0 + l_tax)")} AS sum_charge,
       |       ${Dx.sqlDsum("l_quantity")} / COUNT(*) AS avg_qty,
       |       ${Dx.sqlDsum("l_extendedprice")} / COUNT(*) AS avg_price,
       |       ${Dx.sqlDsum("l_discount")} / COUNT(*) AS avg_disc,
       |       CAST(COUNT(*) AS BIGINT) AS count_order
       |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q51: revenue per part computed through the SALTED two-stage
    * aggregation ([[Scale.saltedSum]], spread by order key) — the skew
    * treatment for a hot key at 100 TB. The oracle is the plain direct
    * aggregation: decimal sums make the salted merge order irrelevant, so
    * salted ≡ direct exactly, which is precisely the property that makes
    * salting safe to deploy. */
  def saltedRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables(spark, dir, "lineitem")
      .select($"l_partkey".as("part_id"), $"l_orderkey",
        Dx.dec(expr(REV)).as("rev_dec"))
    Scale.saltedSum(li, Seq("part_id"), $"rev_dec", $"l_orderkey", "rev_sum")
      .select($"part_id", $"rev_sum".cast("double").as("revenue"))
      .orderBy($"part_id")
  }

  private val saltedRevenueOracle =
    s"""SELECT l_partkey AS part_id, ${Dx.sqlDsum(REV)} AS revenue
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** q79: revenue per supplier nation through the SALTED shuffle join
    * ([[Scale.saltedJoin]]) — the JOIN-side skew treatment, completing
    * q51's aggregation-side twin. The supplier dim plays the
    * "too-big-to-broadcast, hot-key" role (s_suppkey is the fixture's
    * warehouse id, and warehouse-keyed facts are exactly where one busy
    * warehouse goes hot); the oracle is the PLAIN join+agg, so the driver
    * proves salted ≡ direct row-for-row. Decimal revenue sums make the
    * reduce order irrelevant, same as q51. */
  def saltedJoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fact = Tables(spark, dir, "lineitem")
      .select($"l_suppkey", $"l_orderkey",
        Dx.dec(expr(REV)).as("rev_dec"))
    val dim = Tables(spark, dir, "supplier")
      .select($"s_suppkey".as("l_suppkey"), $"s_nationkey".as("nation_id"))
    Scale.saltedJoin(fact, dim, Seq("l_suppkey"), $"l_orderkey")
      .groupBy($"nation_id")
      .agg(sum($"rev_dec").cast("double").as("revenue"))
      .orderBy($"nation_id")
  }

  private val saltedJoinRevenueOracle =
    s"""SELECT s_nationkey AS nation_id, ${Dx.sqlDsum(REV)} AS revenue
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q117

  /** Reconciliation tolerance (absolute, currency units). */
  val RECON_TOLERANCE = "0.01"

  /** How many worst mismatches the report carries. */
  val RECON_TOP = 20

  /** Order-revenue reconciliation — the cross-table consistency audit a
    * finance close runs: per order, the stored header total
    * (`o_totalprice`) against the DERIVED lineitem revenue
    * Σ extendedprice·(1−discount)·(1+tax), matched when the absolute gap
    * is within [[RECON_TOLERANCE]]. Emits the [[RECON_TOP]] worst
    * mismatches by |gap| (the rows an auditor opens first), every
    * comparison in exact DECIMAL — the gap itself is the artifact, so it
    * must not carry float noise. (The synthetic testdata's header totals
    * are deliberately unrelated to the lineitems — every order
    * mismatches; the operator's value is the report, and the oracle pins
    * the exact gaps either way.)
    *
    * 100 TB shape: one fact scan → order-keyed partial+final decimal agg;
    * one key-equi join against the header (both sides order-grain);
    * top-N is `orderBy.limit` ⇒ TakeOrderedAndProject. */
  def orderReconciliation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Intermediate widths chosen so the 3-factor product lands at
    // (36,18) ≤ the 38-digit cap in BOTH engines: a (30,6)³ product
    // overflows precision and Spark silently ROUNDS the scale down
    // (allowPrecisionLoss) — measured as an end-digit mismatch vs DuckDB.
    // Scale 18 = 6+6+6 holds the exact rational product; nothing rounds.
    val ext = DecimalType(18, 6)
    val rate = DecimalType(7, 6)
    val derived = Tables(spark, dir, "lineitem")
      .groupBy($"l_orderkey".as("o_orderkey"))
      .agg(sum($"l_extendedprice".cast(ext) *
        (lit(1).cast(rate) - $"l_discount".cast(rate)) *
        (lit(1).cast(rate) + $"l_tax".cast(rate))).as("rev_dec"))
    Tables(spark, dir, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .join(derived, Seq("o_orderkey"))
      // Round the derived revenue to currency grain (6 dp, half-up in
      // both engines) BEFORE anything casts to double: a (38,18) decimal
      // → double cast is NOT correctly rounded in every engine (measured
      // 1-ulp drift in DuckDB's int128/10^18 path), while a ≤(19,6)
      // decimal's unscaled value sits under 2^53 where both engines'
      // casts are exact-then-one-IEEE-division.
      .withColumn("rev6", $"rev_dec".cast(ext))
      .withColumn("gap_dec", $"o_totalprice".cast(ext) - $"rev6")
      .withColumn("matched",
        abs($"gap_dec") <= lit(RECON_TOLERANCE).cast(ext))
      .select($"o_orderkey", $"o_totalprice",
        $"rev6".cast("double").as("lineitem_revenue"),
        $"gap_dec".cast("double").as("gap"), $"matched")
      .orderBy(abs($"gap_dec").desc, $"o_orderkey")
      .limit(RECON_TOP)
  }

  private val orderReconciliationOracle =
    s"""WITH derived AS (
       |  SELECT l_orderkey AS o_orderkey,
       |         SUM(CAST(l_extendedprice AS DECIMAL(18,6))
       |             * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6)))
       |             * (CAST(1 AS DECIMAL(7,6)) + CAST(l_tax AS DECIMAL(7,6))))
       |           AS rev_dec
       |  FROM lineitem GROUP BY 1
       |), j AS (
       |  SELECT o.o_orderkey, o.o_totalprice,
       |         CAST(d.rev_dec AS DECIMAL(18,6)) AS rev6,
       |         CAST(o.o_totalprice AS DECIMAL(18,6))
       |           - CAST(d.rev_dec AS DECIMAL(18,6)) AS gap_dec
       |  FROM orders o JOIN derived d ON o.o_orderkey = d.o_orderkey
       |)
       |SELECT o_orderkey, o_totalprice,
       |       CAST(rev6 AS DOUBLE) AS lineitem_revenue,
       |       CAST(gap_dec AS DOUBLE) AS gap,
       |       abs(gap_dec) <= CAST($RECON_TOLERANCE AS DECIMAL(18,6)) AS matched
       |FROM j
       |ORDER BY abs(gap_dec) DESC, o_orderkey
       |LIMIT $RECON_TOP""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q01_pricing_summary",
      "TPC-H-Q1-style scan→hash-agg pricing summary over lineitem",
      pricingSummary, Some(pricingSummaryOracle)),
    Query("q02_abc_analysis",
      "ABC Pareto classification: revenue/part, exact decimal cumsum, class by cumulative share",
      abcAnalysis, Some(abcOracle)),
    Query("q03_abc_class_counts",
      "count of parts per ABC class",
      abcClassCounts, Some(abcCountsOracle)),
    Query("q04_weighted_avg_cost",
      "weighted average unit cost per part with zero-denominator guard",
      weightedAvgCost, Some(weightedAvgCostOracle)),
    Query("q05_stock_value",
      "per-(part,supplier) quantity × weighted cost valuation, left join + coalesce 0",
      stockValue, Some(stockValueOracle)),
    Query("q06_top10_stock_value",
      "top-10 valuation cells (TakeOrderedAndProject)",
      top10StockValue, Some(top10Oracle)),
    Query("q07_financial_summary",
      "one-row exact total inventory value",
      financialSummary, Some(financialSummaryOracle)),
    Query("q08_running_revenue",
      "daily revenue with exact running total (window cumsum)",
      runningRevenue, Some(runningRevenueOracle)),
    Query("q51_salted_revenue",
      "revenue per part via two-stage salted aggregation ≡ direct agg (skew tool)",
      saltedRevenue, Some(saltedRevenueOracle), headline = false),
    Query("q79_salted_join_revenue",
      "nation revenue via salted shuffle join ≡ plain join (join-side skew tool)",
      saltedJoinRevenue, Some(saltedJoinRevenueOracle), headline = false),
    Query("q117_order_reconciliation",
      "header-vs-lineitem revenue reconciliation: top-20 worst gaps in exact decimal, tolerance-matched",
      orderReconciliation, Some(orderReconciliationOracle),
      headline = false))
}
