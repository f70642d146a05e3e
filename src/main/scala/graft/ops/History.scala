package graft.ops

import graft.{Dx, Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time stock history — an SCD-2 (type-2 slowly-changing
  * dimension) view of the movement ledger.
  *
  * The reference keeps only CURRENT state: `stock.quantity_on_hand`
  * (`database/schema.sql:95-98`) is overwritten by the movement trigger
  * (`database_function/triggers.sql`), so "what was on hand on date D" is
  * answerable only by re-scanning `stock_movements`. This module
  * materializes that answer once: per (product, warehouse) cell, the
  * ledger replays into balance INTERVALS `[valid_from, valid_to)` — one
  * row per balance CHANGE, open-ended (`valid_to` null) for the current
  * value — so any as-of probe is an interval predicate, not a replay.
  * The audit/CDC diff (P5, q38) answers "what changed between two
  * snapshots"; this answers "what was true at any instant" — the two
  * temporal queries a warehouse audit needs.
  *
  * Shape (one scan, two cell-partitioned windows):
  *  1. partial+final hash agg → daily net movement per cell-day;
  *  2. running decimal sum over the cell's days — the window partitions
  *     by cell, so no task ever holds more than one cell's history (the
  *     global-window trap [[Scale.prefixSum]] exists for does not arise);
  *  3. gaps-and-islands collapse: a day whose net change is zero leaves
  *     the balance unchanged — `lag` drops it, `lead` over the SURVIVORS
  *     closes each interval at the next genuine change.
  *
  * Exactness: balances accumulate as DECIMAL(30,6) sub-sums (associative,
  * order-free) and cast to double only at the edge, so the q82 driver
  * entry can prove interval-probe ≡ direct ledger replay BIT-EXACTLY —
  * the invariant that makes the history table a safe substitute for
  * replay at 100 TB (replay scans the fact; the probe scans an
  * interval-filtered, cell-keyed dimension).
  *
  * Fixture mapping (FIXTURES.md §3): cell = (l_partkey, l_suppkey), day =
  * l_shipdate::date, signed quantity = the transfer-leg sign convention
  * ('R' legs negate, [[Warehouse.transfersOut]]).
  */
object History {

  /** Signed movement quantity — the OUT-leg negation (C11). */
  private val SIGNED =
    "CASE WHEN l_returnflag = 'R' THEN -l_quantity ELSE l_quantity END"

  /** Pinned as-of instant for the q82 probe (C2 discipline: a pinned
    * default keeps the oracle reproducible; callers pass any date). */
  val AS_OF_PROBE = "1998-06-15"

  /** Daily net movement per (part, warehouse, day) — one hash agg over
    * any lineitem-shaped ledger frame (callers pass a partition-pruned
    * read for the incremental path). */
  private def dailyNetOf(ledger: DataFrame): DataFrame = {
    import ledger.sparkSession.implicits._
    ledger
      // day-truncated TIMESTAMP, not DATE: both engines type date_trunc
      // identically (the q11 bucket convention), keeping the hash compare
      // type-exact
      .groupBy(
        $"l_partkey".as("part_id"),
        $"l_suppkey".as("warehouse_id"),
        date_trunc("day", $"l_shipdate").as("valid_from"))
      .agg(Dx.decSum(expr(SIGNED)).as("net_dec"))
  }

  private def dailyNet(spark: SparkSession, dir: String): DataFrame =
    dailyNetOf(Tables(spark, dir, "lineitem"))

  /** Interval core over a daily-net frame, balances kept DECIMAL — the
    * exact column [[historyDelta]] merges on (engine-written history
    * persists it beside the presentation double, the trend-report
    * discipline). */
  private def intervalsDec(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    val byDay = Window
      .partitionBy($"part_id", $"warehouse_id")
      .orderBy($"valid_from")
    val bal = daily
      .withColumn("bal_dec",
        sum($"net_dec").over(
          byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_dec", lag($"bal_dec", 1).over(byDay))
    // gaps-and-islands: keep only genuine changes, then close intervals
    // over the surviving rows (lead AFTER the filter — the next row in
    // the filtered frame is the next CHANGE, not the next ledger day).
    bal
      .filter($"prev_dec".isNull || $"bal_dec" =!= $"prev_dec")
      .withColumn("valid_to", lead($"valid_from", 1).over(byDay))
      .select($"part_id", $"warehouse_id", $"valid_from", $"valid_to",
        $"bal_dec")
  }

  private def presented(intervals: DataFrame): DataFrame = {
    import intervals.sparkSession.implicits._
    intervals.select($"part_id", $"warehouse_id", $"valid_from", $"valid_to",
      $"bal_dec".cast("double").as("stock_level"))
  }

  /** q80: the SCD-2 stock history — one row per balance change per cell,
    * `[valid_from, valid_to)` half-open, `valid_to` null on the current
    * interval, exact-decimal balance surfaced as double. */
  def stockHistory(spark: SparkSession, dir: String): DataFrame =
    presented(intervalsDec(dailyNet(spark, dir)))

  /** The history a previous run would have persisted from ledger days ≤
    * `checkpoint` — the stored side of [[historyDelta]] (decimal kept).
    * The day predicate sits on the aggregation KEY, so the optimizer
    * pushes it below the agg; the production layout prunes it at
    * planning time (date-partitioned ledger, the q37 rule). */
  def stockHistoryUntil(spark: SparkSession, dir: String,
      checkpoint: String): DataFrame = {
    import spark.implicits._
    intervalsDec(dailyNet(spark, dir)
      .filter($"valid_from" <= to_timestamp(lit(checkpoint))))
  }

  /** Pinned q84 checkpoint (mid-ledger; data spans 1995–2001). */
  val HIST_CHECKPOINT = "1999-01-01"

  /** q84: INCREMENTAL maintenance of the SCD-2 history (T1 for q80, the
    * q56 design): fold only the post-checkpoint ledger days into a
    * stored interval table, producing output ≡ the FULL recompute — the
    * oracle IS q80's full-recompute SQL, so indistinguishability is
    * hash-proven.
    *
    * Mechanics: each stored cell's OPEN interval carries the opening
    * balance; new daily nets accumulate on top of it (cell-partitioned
    * window), a row survives only where the balance genuinely changes
    * (first new row compares against the OPENING — null for brand-new
    * cells, so their first day always opens an interval, zero balance
    * included, exactly as the full recompute's null-lag does), and one
    * `lead` over stored starts ∪ new change days re-closes every
    * interval — including the stored open one when a new change follows,
    * while a post-checkpoint day that nets to zero leaves it open.
    *
    * Scale: the delta touches new ledger days + the stored table
    * (interval-sized, not fact-sized); balances merge as decimals with
    * operands bounded to DECIMAL(27,6) so Spark's result-type capping
    * never rounds (the q83 discipline).
    *
    * Caller contract (q56's): `stored` holds exactly the days ≤
    * `checkpoint` of an append-only ledger, with `bal_dec` decimal. */
  def historyDelta(spark: SparkSession, dir: String,
      checkpoint: String, stored: DataFrame): DataFrame =
    historyDeltaFrom(Tables(spark, dir, "lineitem"), checkpoint, stored)

  /** [[historyDelta]] over an explicit ledger frame — the production
    * entry: pass the DATE-PARTITIONED ledger read already filtered on its
    * partition column (`ship_day > checkpoint`), so the fact scan prunes
    * every closed day at PLANNING time (HistorySpec asserts
    * PartitionFilters + numFiles on the executed plan, the SinksSpec T1
    * pattern). The redundant-looking `valid_from > checkpoint` filter
    * below stays: it is the semantic guard (exactness does not depend on
    * the caller's pruning), and on the day-grain agg key it costs nothing. */
  def historyDeltaFrom(ledger: DataFrame,
      checkpoint: String, stored: DataFrame): DataFrame = {
    import ledger.sparkSession.implicits._
    val d27 = org.apache.spark.sql.types.DecimalType(27, 6)
    val byDay = Window
      .partitionBy($"part_id", $"warehouse_id")
      .orderBy($"valid_from")
    val opening = stored
      .filter($"valid_to".isNull)
      .select($"part_id", $"warehouse_id", $"bal_dec".cast(d27).as("open_bal"))
    val changes = dailyNetOf(ledger)
      .filter($"valid_from" > to_timestamp(lit(checkpoint)))
      .join(opening, Seq("part_id", "warehouse_id"), "left")
      .withColumn("bal_dec",
        (coalesce($"open_bal", lit(0).cast(d27)) +
          sum($"net_dec").over(
            byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(d27)).cast(d27))
      .withColumn("prev_dec",
        coalesce(lag($"bal_dec", 1).over(byDay), $"open_bal"))
      .filter($"prev_dec".isNull || $"bal_dec" =!= $"prev_dec")
      .select($"part_id", $"warehouse_id", $"valid_from", $"bal_dec")
    val merged = stored
      .select($"part_id", $"warehouse_id", $"valid_from", $"bal_dec")
      .unionByName(changes)
      .withColumn("valid_to", lead($"valid_from", 1).over(byDay))
      .select($"part_id", $"warehouse_id", $"valid_from", $"valid_to",
        $"bal_dec")
    presented(merged)
  }

  private val stockHistoryOracle =
    s"""WITH daily AS (
       |  SELECT l_partkey AS part_id, l_suppkey AS warehouse_id,
       |         date_trunc('day', l_shipdate) AS valid_from,
       |         ${Dx.sqlDecSum(s"($SIGNED)")} AS net_dec
       |  FROM lineitem GROUP BY 1, 2, 3
       |), bal AS (
       |  SELECT part_id, warehouse_id, valid_from,
       |         SUM(net_dec) OVER w AS bal_dec
       |  FROM daily
       |  WINDOW w AS (PARTITION BY part_id, warehouse_id ORDER BY valid_from
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), ch AS (
       |  SELECT *, LAG(bal_dec) OVER (PARTITION BY part_id, warehouse_id
       |                               ORDER BY valid_from) AS prev_dec
       |  FROM bal
       |)
       |SELECT part_id, warehouse_id, valid_from,
       |       LEAD(valid_from) OVER (PARTITION BY part_id, warehouse_id
       |                              ORDER BY valid_from) AS valid_to,
       |       CAST(bal_dec AS DOUBLE) AS stock_level
       |FROM ch WHERE prev_dec IS NULL OR bal_dec <> prev_dec
       |ORDER BY part_id, warehouse_id, valid_from""".stripMargin

  /** q82: point-in-time probe of the history — stock per cell at `asOf`
    * as a pure interval predicate over [[stockHistory]]. The ORACLE is
    * the DIRECT LEDGER REPLAY at the same instant (not a re-derivation of
    * the intervals), so the driver proves the history table answers
    * as-of questions exactly as a full fact re-scan would. */
  def stockAsOf(spark: SparkSession, dir: String,
      asOf: Column = lit(AS_OF_PROBE)): DataFrame = {
    import spark.implicits._
    val d = to_date(asOf).cast("timestamp") // midnight of the probe day
    stockHistory(spark, dir)
      .filter($"valid_from" <= d && ($"valid_to".isNull || $"valid_to" > d))
      .select($"part_id", $"warehouse_id", $"stock_level")
  }

  private val stockAsOfOracle =
    s"""SELECT l_partkey AS part_id, l_suppkey AS warehouse_id,
       |       ${Dx.sqlDsum(SIGNED)} AS stock_level
       |FROM lineitem
       |WHERE CAST(l_shipdate AS DATE) <= DATE '$AS_OF_PROBE'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q80_stock_history_scd2",
      "SCD-2 stock history: ledger → balance-change intervals per cell (gaps-and-islands)",
      (s, d) => stockHistory(s, d)
        .orderBy("part_id", "warehouse_id", "valid_from"),
      Some(stockHistoryOracle), headline = false,
      benchFn = Some(stockHistory)),
    Query("q82_stock_asof",
      "point-in-time stock via interval probe ≡ direct ledger replay at the pinned instant",
      (s, d) => stockAsOf(s, d).orderBy("part_id", "warehouse_id"),
      Some(stockAsOfOracle), headline = false,
      benchFn = Some((s: SparkSession, d: String) => stockAsOf(s, d))),
    Query("q84_history_delta",
      "incremental SCD-2 maintenance: stored intervals ⊎ post-checkpoint days ≡ full recompute (T1)",
      (s, d) => deltaEntry(s, d)
        .orderBy("part_id", "warehouse_id", "valid_from"),
      Some(stockHistoryOracle), headline = false,
      benchFn = Some(deltaEntry)))

  /** q84 driver assembly. `stored` := what a previous run persisted from
    * days ≤ checkpoint; the oracle is q80's FULL recompute — the delta
    * must be indistinguishable from it. The stored side comes from
    * [[storedTable]] — a parquet table materialized ONCE per (dir,
    * checkpoint) and read from storage thereafter — so the driver-visible
    * plan is what the incremental claim states: ONE fact scan (the new
    * days) + an interval-sized stored read, not two fact replays
    * (round-7 verdict item 4: the previous in-flight fixture made the
    * measured q84 a full recompute). */
  private def deltaEntry(s: SparkSession, d: String): DataFrame =
    historyDelta(s, d, HIST_CHECKPOINT, storedTable(s, d, HIST_CHECKPOINT))

  /** The materialized stored-history table for (dir, checkpoint): built
    * from the ledger on FIRST use (exactly what a previous incremental
    * run would have persisted), then read back from parquet — the
    * between-runs artifact a production T1 pipeline maintains.
    *
    * Cache validity: the key is the `lineitem` fingerprint
    * ([[graft.Tables.fingerprint]]: every data file's name, size and
    * mtime) plus dir and checkpoint, so regenerating the data under
    * `d` in place (the ScaleGen workflow) changes the key and forces a
    * rebuild instead of silently reusing a stale artifact. Concurrent
    * JVMs racing the first build are isolated by temp-dir-and-rename via
    * `FileContext.rename` with `Options.Rename.NONE` — atomic
    * fail-if-exists even on RawLocalFileSystem, where the plain
    * `FileSystem.rename` would fall back to copying the temp dir INSIDE
    * an existing target and report success (round-9 ADVICE). The loser's
    * rename throws, its temp dir is deleted unconditionally, and the
    * winner's `_SUCCESS` marker is re-verified before reading. Rebuilt
    * when the `_SUCCESS` marker is absent (interrupted builds re-run). */
  def storedTable(s: SparkSession, d: String, checkpoint: String): DataFrame = {
    val hconf = s.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(hconf)
    val inputs = Tables.fingerprint(s, d, "lineitem")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d|$checkpoint|$inputs".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q84_stored_v2_$key"
    val target = new org.apache.hadoop.fs.Path(path)
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    if (!fs.exists(marker)) {
      val tmp = new org.apache.hadoop.fs.Path(
        s"$path.tmp-${java.lang.ProcessHandle.current.pid}")
      graft.sources.Sinks.writeParquet(
        stockHistoryUntil(s, d, checkpoint), tmp.toString)
      try {
        // Rename.NONE = atomic fail-if-exists (FileSystem.rename on the
        // local FS would copy tmp INSIDE an existing target and "succeed").
        org.apache.hadoop.fs.FileContext.getFileContext(hconf)
          .rename(tmp, target)
      } catch {
        case _: java.io.IOException => () // lost the race; winner's bytes are identical
      } finally {
        if (fs.exists(tmp)) fs.delete(tmp, true)
      }
      require(fs.exists(marker),
        s"q84 stored-table build left no _SUCCESS at $path")
    }
    s.read.parquet(path)
  }

  /** Eager build of the q84 stored table (no-op when current) — the
    * bench's setup hook, so the one-time materialization cost lands in
    * setup rather than inflating the first timed q84 sample (round-8
    * ADVICE: min-of-runs hid it, but queries_max and GC attribution
    * mis-reported it as an environment spike, and a runs=1 invocation
    * timed the build as query cost). */
  def ensureStored(s: SparkSession, d: String): Unit = {
    storedTable(s, d, HIST_CHECKPOINT).queryExecution.toRdd.foreach(_ => ())
    ()
  }
}
