package graft.ops

import graft.{Dx, Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Movement analytics — the reference's movement_analytics module
  * (`wsm/etl_pipeline/transform/movement_analytics.py:15-36`): resample the
  * OUT-movement stream into one gap-filled Daily calendar, roll that up
  * into the Weekly and Monthly calendars ([[Movement.rollUp]]), then rank
  * day-of-week / month averages.
  *
  * Operators covered (SURVEY.md §2): F5 type filter, A11 calendar bucket
  * counts **with gap-fill** (pandas `resample` emits empty bins; plain
  * `groupBy` omits them — SURVEY §7.4.1 flags this as the one nontrivial
  * semantic), A12/A13 peak day-of-week / month, C6/C7 day & month names,
  * O2 sort, O6 first-row-of-sorted (the full sorted table is returned; the
  * reference takes `iloc[0]`).
  *
  * Fixture mapping: "OUT movements" := high-value purchase events
  * (`event_type = 'purchase' AND value >= 150`) — chosen so the subset is
  * genuinely sparse at the correctness scale (empty days exist at sf0.01),
  * exercising the gap-fill path for real. Weekly anchor: `date_trunc('week')`
  * = ISO Monday start in BOTH Spark and DuckDB (pandas `'W'` is Sunday-end;
  * we declare Monday-start and the oracle matches — SURVEY §7.4.1).
  *
  * Names are produced by a `when`-ladder over `dayofweek()`/`month()` rather
  * than `date_format(..., "EEEE")` so results cannot depend on the JVM
  * default locale — determinism across heterogeneous clusters.
  *
  * 100 TB plan: ONE scan of the fact feeds a partial+final hash agg keyed by
  * the day — calendar-bounded (≤ a few thousand rows for decades of data),
  * so the gap-fill, the roll-ups and the peak tables are dimension-sized
  * work over the daily calendar, never over events.
  */
object Movement {

  /** The "OUT movement" subset (F5): high-value purchases. */
  private val HOT_TYPE = "purchase"
  private val HOT_MIN_VALUE = 150.0

  private def hot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "events")
      .filter($"event_type" === HOT_TYPE && $"value" >= HOT_MIN_VALUE)
  }

  private val hotSql =
    s"SELECT * FROM events WHERE event_type = '$HOT_TYPE' AND value >= $HOT_MIN_VALUE"

  /** Gap-filled daily counts (A11): truncate to the day, aggregate, then
    * densify — each bucket learns its successor via a `lead` window and
    * emits itself plus a zero row for every missing day up to (not
    * including) the successor. ONE pass over the aggregate: no persist,
    * no spine self-join. The `lead` window is unpartitioned but runs over
    * the AGGREGATED, calendar-bounded buckets. */
  def trend(spark: SparkSession, dir: String): DataFrame =
    trendOfEvents(hot(spark, dir))

  /** The stored-report simulation for the delta test/query: the trend a
    * previous pipeline run would have written from events ≤ `until` —
    * the complement of the T1 `ts > checkpoint` delta scan. */
  def trendUntil(spark: SparkSession, dir: String, until: String): DataFrame =
    trendOfEvents(hot(spark, dir).filter(col("ts") <= to_timestamp(lit(until))))

  /** [[trend]] over an arbitrary event frame (ts, value) — also the entry
    * for tests and streaming callers that already hold the filtered
    * stream. */
  def trendOfEvents(events: DataFrame): DataFrame = gapFill(buckets(events))

  /** The daily aggregate of an event frame (ts, value):
    * (b, n_events, v_dec DECIMAL) per `date_trunc('day', ts)` — the one
    * aggregation both the full recompute and the delta merge fold. */
  private def buckets(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupBy(date_trunc("day", $"ts").as("b"))
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        Dx.dec(Dx.decSum($"value")).as("v_dec"))
  }

  /** The densify half of A11 over an aggregated daily frame
    * (b, n_events, v_dec DECIMAL) — shared by the full recompute and the
    * delta merge. Emits BOTH value representations: `total_value_dec`
    * ([[Dx.Dec]]: 24 integer digits hold any realizable value
    * magnitude; the exact stored truth every later merge and roll-up
    * consumes) and `total_value` (the presentation double the reports
    * and oracles compare). Registered queries drop the decimal twin;
    * WRITTEN reports keep it. */
  private def gapFill(buckets: DataFrame): DataFrame = {
    import buckets.sparkSession.implicits._
    val day = expr("interval 1 day")
    buckets
      .withColumn("next_b", lead($"b", 1).over(Window.orderBy($"b")))
      .select(
        $"b", $"n_events", $"v_dec",
        // [b, next_b) stepped by one day; the final bucket (next_b null)
        // emits only itself.
        explode(sequence($"b", coalesce($"next_b" - day, $"b"), day))
          .as("bucket"))
      .select(
        $"bucket",
        when($"bucket" === $"b", $"n_events").otherwise(0L).as("n_events"),
        when($"bucket" === $"b", $"v_dec")
          .otherwise(Dx.dec(lit(0))).as("total_value_dec"))
      .withColumn("total_value", $"total_value_dec".cast("double"))
      .orderBy($"bucket")
  }

  /** The weekly or monthly calendar (A11) of a gap-filled daily frame, in
    * the daily frame's columns and types — exactly the gap-filled `unit`
    * calendar: decimal sums add without rounding, and the daily calendar
    * has a row for every day between the first and last event, so every
    * week or month in that range, empty ones included, gets one row. */
  def rollUp(daily: DataFrame, unit: String): DataFrame = {
    import daily.sparkSession.implicits._
    daily
      .groupBy(date_trunc(unit, $"bucket").as("bucket"))
      .agg(
        sum($"n_events").cast("long").as("n_events"),
        Dx.dec(sum($"total_value_dec")).as("total_value_dec"))
      .withColumn("total_value", $"total_value_dec".cast("double"))
      .orderBy($"bucket")
  }

  /** T1 row-subset incremental transform for the daily trend report:
    * merge the PREVIOUSLY-STORED gap-filled report with the buckets of
    * only the events newer than `checkpoint` (a pushed-down predicate
    * scan — the fact is never rescanned below the checkpoint), then
    * re-densify. Result ≡ the full recompute (q56's oracle IS the
    * full-recompute SQL), because the stored report carries exact
    * per-day partial sums for everything ≤ checkpoint — including its
    * explicit zero rows — and the gap-fill closes any calendar hole
    * between the old span and the new buckets.
    *
    * Caller contract (the reference's checkpoint semantics,
    * `config.yaml:15`): `stored` was built from exactly the events with
    * `ts <= checkpoint`, and the ledger is append-only. Decimal note:
    * engine-written reports carry `total_value_dec` DECIMAL(30,6) and the
    * merge consumes it — exact at ANY magnitude. A stored report holding
    * only the presentation double (foreign writers) falls back to the
    * double→decimal cast, exact while magnitude stays under ~10⁹. */
  def trendDelta(spark: SparkSession, dir: String,
      checkpoint: String, stored: DataFrame): DataFrame = {
    import spark.implicits._
    mergeTrend(stored,
      hot(spark, dir).filter($"ts" > to_timestamp(lit(checkpoint))))
  }

  /** The merge core shared by the batch delta path and the streaming
    * foreachBatch report sink: fold an arbitrary frame of NEW events
    * (ts, value) into a stored gap-filled daily report and re-densify.
    * Exact for ANY arrival order — a late event lands in its true
    * day because the stored report keeps exact per-day partial sums,
    * where a watermarked window would have dropped it. */
  def mergeTrend(stored: DataFrame, newEvents: DataFrame): DataFrame = {
    import stored.sparkSession.implicits._
    val delta = buckets(newEvents)
    // prefer the exact decimal column engine-written reports persist;
    // fall back to the presentation double for foreign reports, whether
    // the column is absent or, read under a declared schema, NULL
    val storedVal =
      if (stored.columns.contains("total_value_dec"))
        coalesce(Dx.dec($"total_value_dec"), Dx.dec($"total_value"))
      else Dx.dec($"total_value")
    val merged = stored
      .select($"bucket".as("b"), $"n_events", storedVal.as("v_dec"))
      .unionByName(delta)
      .groupBy($"b")
      .agg(
        sum($"n_events").cast("long").as("n_events"),
        Dx.dec(sum($"v_dec")).as("v_dec"))
    gapFill(merged)
  }

  private def trendSql(unit: String, step: String): String =
    s"""WITH hot AS ($hotSql
       |), b AS (
       |  SELECT date_trunc('$unit', ts) AS bucket,
       |         CAST(COUNT(*) AS BIGINT) AS n_events,
       |         ${Dx.sqlDsum("value")} AS total_value
       |  FROM hot GROUP BY 1
       |), cal AS (
       |  SELECT unnest(generate_series(date_trunc('$unit', mn),
       |                                date_trunc('$unit', mx),
       |                                INTERVAL $step)) AS bucket
       |  FROM (SELECT MIN(ts) AS mn, MAX(ts) AS mx FROM hot)
       |)
       |SELECT cal.bucket AS bucket,
       |       COALESCE(b.n_events, 0) AS n_events,
       |       COALESCE(b.total_value, 0.0) AS total_value
       |FROM cal LEFT JOIN b ON cal.bucket = b.bucket
       |ORDER BY bucket""".stripMargin

  /** Locale-proof day-of-week name (C6): when-ladder over dayofweek()
    * (Spark: 1=Sunday … 7=Saturday). */
  private def dayName(c: Column): Column =
    when(dayofweek(c) === 1, "Sunday")
      .when(dayofweek(c) === 2, "Monday")
      .when(dayofweek(c) === 3, "Tuesday")
      .when(dayofweek(c) === 4, "Wednesday")
      .when(dayofweek(c) === 5, "Thursday")
      .when(dayofweek(c) === 6, "Friday")
      .otherwise("Saturday")

  /** Locale-proof month name (C7). */
  private def monthName(c: Column): Column = {
    val names = Seq("January", "February", "March", "April", "May", "June",
      "July", "August", "September", "October", "November", "December")
    names.zipWithIndex.tail.foldLeft(when(month(c) === 1, names.head)) {
      case (acc, (n, i)) => acc.when(month(c) === (i + 1), n)
    }
  }

  /** Peak day-of-week (A12): average daily event count per weekday over the
    * gap-filled daily series (empty days pull the mean down, exactly like
    * pandas `resample('D').count().groupby(day_name).mean()`). */
  def peakDayOfWeek(spark: SparkSession, dir: String): DataFrame =
    peakFromDaily(trend(spark, dir))

  /** A12 from an ALREADY-MATERIALIZED gap-filled daily frame (the stored
    * `daily_trends` report): the peak table is definitionally an
    * aggregation of the daily series, so a pipeline that just wrote it
    * derives peaks from calendar-bounded input instead of re-scanning
    * the fact — at 100 TB that turns two of the twelve reports into
    * broadcast-sized work. */
  def peakFromDaily(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    daily
      .groupBy(dayName($"bucket").as("day_name"))
      .agg((sum($"n_events").cast("double") / count(lit(1))).as("avg_daily_events"))
      .orderBy($"avg_daily_events".desc, $"day_name".asc)
  }

  private val peakDayOracle =
    s"""WITH daily AS (${trendSql("day", "1 day").replace("ORDER BY bucket", "")})
       |SELECT dayname(bucket) AS day_name,
       |       CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_daily_events
       |FROM daily GROUP BY 1
       |ORDER BY avg_daily_events DESC, day_name""".stripMargin

  /** Peak month (A13): average monthly event count per month name. */
  def peakMonth(spark: SparkSession, dir: String): DataFrame =
    peakMonthFromDaily(trend(spark, dir))

  /** A13 from an already-materialized gap-filled daily frame, through its
    * monthly [[rollUp]] (see [[peakFromDaily]]). */
  def peakMonthFromDaily(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    rollUp(daily, "month")
      .groupBy(monthName($"bucket").as("month_name"))
      .agg((sum($"n_events").cast("double") / count(lit(1))).as("avg_monthly_events"))
      .orderBy($"avg_monthly_events".desc, $"month_name".asc)
  }

  private val peakMonthOracle =
    s"""WITH monthly AS (${trendSql("month", "1 month").replace("ORDER BY bucket", "")})
       |SELECT monthname(bucket) AS month_name,
       |       CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_monthly_events
       |FROM monthly GROUP BY 1
       |ORDER BY avg_monthly_events DESC, month_name""".stripMargin

  /** O6: the busiest weekday — FIRST row of the sorted peak table, the
    * reference's `iloc[0]` (`movement_analytics.py:36`). `limit(1)` over
    * the sorted aggregate plans TakeOrderedAndProject: per-partition
    * heaps, no global sort even when the aggregate is large. */
  def peakDayTop(spark: SparkSession, dir: String): DataFrame =
    peakDayOfWeek(spark, dir).limit(1)

  private val peakDayTopOracle = s"$peakDayOracle LIMIT 1"

  // ---------------------------------------------------------------- q111

  /** Outlier threshold in population standard deviations. */
  val OUTLIER_Z = 2.0

  /** Daily-trend anomaly detection: days whose gap-filled event count
    * deviates from the series mean by more than [[OUTLIER_Z]]·σ — the
    * monitoring pass a pipeline runs over its own movement trends (spike
    * days, dead days). Statistics are population mean/σ over the WHOLE
    * gap-filled calendar (zero days count — a gap IS an anomaly signal).
    *
    * Determinism: counts are longs, so Σx and Σx² are EXACT integer
    * aggregates; mean/variance are then one pinned left-associated double
    * chain and σ is IEEE-754 `sqrt` (correctly rounded in both engines) —
    * no order-dependent float accumulation anywhere. The σ>0 guard keeps
    * the constant-series case empty on BOTH engines (Spark orders NaN
    * above all doubles, DuckDB doesn't — never let a NaN reach the
    * comparison).
    *
    * 100 TB shape: everything after the q11 trend aggregation is
    * calendar-bounded (the gapFill precedent) — the stats windows run
    * over day-grain rows, never events. */
  def trendOutliers(spark: SparkSession, dir: String): DataFrame =
    outliersOf(trend(spark, dir))

  /** The reusable scoring core over ANY gap-filled daily frame
    * (bucket, n_events, …) — the full recompute feeds it above, and an
    * INCREMENTAL monitoring run feeds it [[trendDelta]]'s merged report
    * instead (delta-merged ≡ full is pinned by EventsSpec, so anomaly
    * monitoring inherits T1's no-fact-rescan property for free). */
  def outliersOf(daily0: DataFrame): DataFrame = {
    val spark = daily0.sparkSession
    import spark.implicits._
    val daily = daily0.select($"bucket", $"n_events")
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("n_days", count(lit(1)).over(all).cast("long"))
      .withColumn("sum_n", sum($"n_events").over(all).cast("long"))
      .withColumn("sum_sq",
        sum($"n_events" * $"n_events").over(all).cast("long"))
      .withColumn("mean", $"sum_n".cast("double") / $"n_days")
      .withColumn("sd", sqrt(
        ($"sum_sq".cast("double") - $"sum_n".cast("double") * $"sum_n" / $"n_days")
          / $"n_days"))
      .withColumn("z", ($"n_events".cast("double") - $"mean") / $"sd")
      .filter($"sd" > 0.0 && abs($"z") > OUTLIER_Z)
      .select($"bucket", $"n_events", $"mean", $"sd", $"z")
      .orderBy($"bucket")
  }

  private val trendOutliersOracle =
    s"""WITH hot AS ($hotSql
       |), b AS (
       |  SELECT date_trunc('day', ts) AS bucket,
       |         CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM hot GROUP BY 1
       |), cal AS (
       |  SELECT unnest(generate_series(date_trunc('day', mn),
       |                                date_trunc('day', mx),
       |                                INTERVAL 1 day)) AS bucket
       |  FROM (SELECT MIN(ts) AS mn, MAX(ts) AS mx FROM hot)
       |), d AS (
       |  SELECT cal.bucket, COALESCE(b.n_events, 0) AS n_events
       |  FROM cal LEFT JOIN b ON cal.bucket = b.bucket
       |), s AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       |         CAST(SUM(n_events) AS BIGINT) AS sum_n,
       |         CAST(SUM(n_events * n_events) AS BIGINT) AS sum_sq
       |  FROM d
       |), scored AS (
       |  SELECT d.bucket, d.n_events,
       |         CAST(sum_n AS DOUBLE) / n_days AS mean,
       |         sqrt((CAST(sum_sq AS DOUBLE)
       |               - CAST(sum_n AS DOUBLE) * sum_n / n_days) / n_days)
       |           AS sd
       |  FROM d, s
       |)
       |SELECT bucket, n_events, mean, sd,
       |       (CAST(n_events AS DOUBLE) - mean) / sd AS z
       |FROM scored
       |WHERE sd > 0.0 AND abs((CAST(n_events AS DOUBLE) - mean) / sd) > $OUTLIER_Z
       |ORDER BY bucket""".stripMargin

  val all: Seq[Query] = Seq(
    // the registered trend queries compare the presentation columns; the
    // exact DECIMAL twin (total_value_dec) is for WRITTEN reports and
    // their later merges, not the oracle surface
    Query("q11_daily_trends",
      "gap-filled daily counts+value of high-value purchases (A11/F5, empty bins emitted)",
      (s, d) => trend(s, d).drop("total_value_dec"),
      Some(trendSql("day", "1 day"))),
    Query("q12_weekly_trends",
      "gap-filled ISO-Monday weekly buckets (A11, weekly anchor declared)",
      (s, d) => rollUp(trend(s, d), "week").drop("total_value_dec"),
      Some(trendSql("week", "1 week"))),
    Query("q13_monthly_trends",
      "gap-filled calendar-month buckets (A11)",
      (s, d) => rollUp(trend(s, d), "month").drop("total_value_dec"),
      Some(trendSql("month", "1 month"))),
    Query("q14_peak_day_of_week",
      "avg daily events per weekday over the gap-filled series, sorted desc (A12/C6/O2)",
      peakDayOfWeek, Some(peakDayOracle)),
    Query("q15_peak_month",
      "avg monthly events per month name, sorted desc (A13/C7/O2)",
      peakMonth, Some(peakMonthOracle)),
    Query("q43_peak_day_top",
      "first row of the sorted peak-day table — the reference's iloc[0] (O6)",
      peakDayTop, Some(peakDayTopOracle), headline = false),
    Query("q56_trend_delta",
      "incremental daily trend: stored report ⊎ post-checkpoint buckets, re-densified ≡ full recompute (T1/A11)",
      // stored := what a previous run persisted from events ≤ checkpoint;
      // the oracle is the FULL recompute — the delta must be
      // indistinguishable from it
      (s, d) => trendDelta(s, d, Incremental.CHECKPOINT,
        trendUntil(s, d, Incremental.CHECKPOINT))
        .drop("total_value_dec"),
      Some(trendSql("day", "1 day")), headline = false),
    Query("q111_trend_outliers",
      "daily-trend anomaly days: |count − mean| > 2σ over the gap-filled series, exact integer moments + IEEE sqrt",
      trendOutliers, Some(trendOutliersOracle), headline = false))
}
