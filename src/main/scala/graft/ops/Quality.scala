package graft.ops

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality module — the reference's `handle_data_quality_issues`
  * (`wsm/etl_pipeline/extract/data_extractor.py:80-103`): tag every row with
  * its first matching DQ rule, keep the valid stream, and report quarantine
  * counts per rule (the reference logs 21,649 dropped rows per run).
  *
  * Operators covered (SURVEY.md §2): F1 invalid-reference rule, F2
  * invalid-value rule with `isin` (C14), F3 future-date rule against a
  * pinned as-of (C2 — pinned, not `current_timestamp()`, so the oracle is
  * reproducible), F4 valid-rows filter, plus the quarantine side-output.
  * Rule precedence is first-match, exactly like the reference's sequential
  * `loc` assignments (later rules don't overwrite earlier tags).
  *
  * Fixture mapping over `events`: invalid_reference := the JSON props
  * payload carries sentinel k=99 (C16-adjacent: JSON field extraction);
  * invalid_value := purchase/signup with value < 1.0; future_date :=
  * ts past AS_OF.
  *
  * 100 TB plan: the rule ladder is a single codegen'd projection — no
  * shuffle at all for tagging; the valid filter pushes down to the scan
  * where possible, and the quarantine summary is a partial+final hash agg
  * on a 4-value key. Both outputs come from one shared scan (a real
  * pipeline would write valid + quarantine via one pass with
  * `foreachBatch`/DataSink fan-out; here they are two queries over the
  * same tagged projection).
  */
object Quality {

  /** Upper watermark for the future-date rule — the DEFAULT `asOf` below,
    * pinned for a reproducible oracle (C2). Production callers wanting the
    * reference's now() semantics pass `asOf = current_timestamp()`. */
  val AS_OF = "2024-01-28 00:00:00"

  /** First-match DQ rule ladder (F1→F2→F3, else valid) against an
    * arbitrary timestamp-valued as-of Column. */
  def dqIssueAt(asOf: Column): Column =
    when(get_json_object(col("props"), "$.k").cast("int") === 99,
      "invalid_reference")
      .when(col("event_type").isin("purchase", "signup") && col("value") < 1.0,
        "invalid_value")
      .when(col("ts") > asOf, "future_date")
      .otherwise("valid")

  /** The ladder at the pinned [[AS_OF]] (oracle default). */
  def dqIssue: Column = dqIssueAt(to_timestamp(lit(AS_OF)))

  private val dqIssueSql =
    s"""CASE WHEN CAST(json_extract_string(props, '$$.k') AS INT) = 99
       |         THEN 'invalid_reference'
       |     WHEN event_type IN ('purchase', 'signup') AND value < 1.0
       |         THEN 'invalid_value'
       |     WHEN ts > TIMESTAMP '$AS_OF' THEN 'future_date'
       |     ELSE 'valid' END""".stripMargin

  /** All events tagged with their DQ disposition. */
  def tagged(spark: SparkSession, dir: String,
      asOf: Column = to_timestamp(lit(AS_OF))): DataFrame =
    Tables(spark, dir, "events").withColumn("dq_issue", dqIssueAt(asOf))

  /** q19: the valid stream (F4) — what downstream transforms consume. */
  def validEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    tagged(spark, dir)
      .filter($"dq_issue" === "valid")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .orderBy($"event_id")
  }

  private val validOracle =
    s"""SELECT event_id, ts, user_id, event_type, value, props
       |FROM (SELECT *, $dqIssueSql AS dq_issue FROM events)
       |WHERE dq_issue = 'valid' ORDER BY event_id""".stripMargin

  /** q20: quarantine summary — row count per disposition (incl. valid). */
  def quarantineSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    tagged(spark, dir)
      .groupBy($"dq_issue")
      .agg(count(lit(1)).cast("long").as("n_rows"))
      .orderBy($"dq_issue")
  }

  private val quarantineOracle =
    s"""SELECT $dqIssueSql AS dq_issue, CAST(COUNT(*) AS BIGINT) AS n_rows
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q112

  /** Profiled lineitem columns: name → (numeric?, date?). The melt target
    * of [[columnProfile]]; extend the list, the plan shape is unchanged. */
  val PROFILE_COLS: Seq[(String, String)] = Seq(
    "l_quantity" -> "num", "l_extendedprice" -> "num",
    "l_discount" -> "num", "l_returnflag" -> "str",
    "l_shipdate" -> "date")

  /** Column profiling — the deequ/dbt-style DQ summary run before trusting
    * a new drop of the fact table: per column, row count, null count,
    * EXACT distinct count, and min/max. Min/max render to strings through
    * type-pinned paths (numerics via DECIMAL(18,6) — both engines print
    * the full 6-digit scale; dates via yyyy-MM-dd) so one uniform schema
    * carries every column without cross-engine float-formatting risk.
    *
    * 100 TB shape — melt-first, NOT Spark's multi-`countDistinct` expand:
    * the expand plan funnels every distinct value of every column through
    * ONE final reducer (measured 8.3 s at sf0.1, dominated by the 600k
    * distinct prices merging in a single task). Instead the row melts to a
    * (column, value) pair stream ONCE in the scan stage; the first agg
    * collapses to VALUE grain across all reducers (exchange keyed by
    * (column, value) — distinct-count-sized, spread over the cluster),
    * and the second agg reads value-grain rows (one per distinct value),
    * so no task ever holds more than its hash share of any column's
    * distinct set. Typed min/max ride the same pair stream via per-kind
    * sidecar columns. One scan, two keyed exchanges, nothing
    * driver-sided. */
  def columnProfile(spark: SparkSession, dir: String): DataFrame =
    profileOf(Tables(spark, dir, "lineitem"), PROFILE_COLS)

  /** The reusable melt-first profiling core over ANY frame and column
    * list — q112 feeds it the fact table, q118 feeds it two time slices
    * of the event stream and diffs the results. */
  def profileOf(df0: DataFrame, cols: Seq[(String, String)]): DataFrame = {
    val spark = df0.sparkSession
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    // vdist is the RAW string cast — the distinct key must see the
    // column's full precision (a date-truncated rendering undercounts
    // second-grain timestamps; measured on q118's ts column). The typed
    // vnum/vdate sidecars carry ordering + rendering for min/max; for
    // plain strings vdist doubles as both.
    val pairs = df0
      .select(explode(array(cols.map { case (name, kind) =>
        val vnum =
          if (kind == "num") col(name).cast(dec) else lit(null).cast(dec)
        val vdate = if (kind == "date") to_date(col(name))
          else lit(null).cast("date")
        struct(lit(name).as("column_name"),
          col(name).cast("string").as("vdist"),
          vnum.as("vnum"), vdate.as("vdate"))
      }: _*)).as("p"))
      .select($"p.*")
    val byValue = pairs
      .groupBy($"column_name", $"vdist", $"vnum", $"vdate")
      .agg(count(lit(1)).as("cnt"))
    byValue.groupBy($"column_name")
      .agg(
        sum($"cnt").cast("long").as("n_rows"),
        sum(when($"vdist".isNull, $"cnt").otherwise(0L)).cast("long")
          .as("n_null"),
        count(when($"vdist".isNotNull, 1)).cast("long").as("n_distinct"),
        min($"vnum").as("mn_num"), max($"vnum").as("mx_num"),
        min($"vdate").as("mn_date"), max($"vdate").as("mx_date"),
        min(when($"vnum".isNull && $"vdate".isNull, $"vdist")).as("mn_str"),
        max(when($"vnum".isNull && $"vdate".isNull, $"vdist")).as("mx_str"))
      .select($"column_name", $"n_rows", $"n_null", $"n_distinct",
        coalesce($"mn_num".cast("string"),
          date_format($"mn_date", "yyyy-MM-dd"), $"mn_str").as("min_str"),
        coalesce($"mx_num".cast("string"),
          date_format($"mx_date", "yyyy-MM-dd"), $"mx_str").as("max_str"))
      .orderBy($"column_name")
  }

  /** DuckDB twin of [[profileOf]] for any table/WHERE/column list. */
  private def profileSql(table: String, where: String,
      cols: Seq[(String, String)]): String =
    profileSelects(s"$table $where", cols).mkString("(", "\nUNION ALL\n", ")")

  /** One profile SELECT per (column, kind) of `cols` over `from` (the
    * text after FROM): column_name, n_rows, n_null, n_distinct and the
    * kind-rendered min_str/max_str. */
  private def profileSelects(from: String,
      cols: Seq[(String, String)]): Seq[String] =
    cols.map { case (name, kind) =>
      val (mn, mx) = kind match {
        case "num" =>
          (s"CAST(CAST(MIN($name) AS DECIMAL(18,6)) AS VARCHAR)",
            s"CAST(CAST(MAX($name) AS DECIMAL(18,6)) AS VARCHAR)")
        case "date" =>
          (s"strftime(MIN($name), '%Y-%m-%d')",
            s"strftime(MAX($name), '%Y-%m-%d')")
        case _ =>
          (s"CAST(MIN($name) AS VARCHAR)", s"CAST(MAX($name) AS VARCHAR)")
      }
      s"""SELECT '$name' AS column_name,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(CASE WHEN $name IS NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_null,
         |       CAST(COUNT(DISTINCT $name) AS BIGINT) AS n_distinct,
         |       $mn AS min_str, $mx AS max_str
         |FROM $from""".stripMargin
    }

  // ---------------------------------------------------------------- q118

  /** Profiled event columns for the drift monitor. */
  val DRIFT_COLS: Seq[(String, String)] = Seq(
    "value" -> "num", "user_id" -> "num", "event_type" -> "str",
    "ts" -> "date")

  /** Profile-drift monitor — the schema/distribution regression check an
    * incremental pipeline runs per load: [[profileOf]] over the BASELINE
    * slice (events ≤ the T1 checkpoint, what the previous run profiled)
    * vs the CURRENT full stream, joined per column with exact-ratio drift
    * metrics (null rates, distinct growth, row growth) and min/max change
    * flags. A distinct count that jumps out of proportion to row growth,
    * or a min/max that moves, is the classic silent-upstream-change
    * signal.
    *
    * Two scans BY CONSTRUCTION (two snapshots are profiled — the honest
    * drift shape; a production run diffs against the STORED baseline
    * profile artifact instead, making it one): each side is the q112
    * melt-first plan; the final join is column-grain. */
  def profileDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val base = profileOf(
      ev.filter($"ts" <= to_timestamp(lit(Incremental.CHECKPOINT))),
      DRIFT_COLS)
    val cur = profileOf(ev, DRIFT_COLS)
    def side(p: DataFrame, tag: String): DataFrame =
      p.select($"column_name", $"n_rows".as(s"n_rows_$tag"),
        ($"n_null".cast("double") / $"n_rows").as(s"null_rate_$tag"),
        $"n_distinct".as(s"n_distinct_$tag"),
        $"min_str".as(s"min_$tag"), $"max_str".as(s"max_$tag"))
    side(base, "base").join(side(cur, "cur"), Seq("column_name"))
      .select($"column_name",
        $"n_rows_base", $"n_rows_cur",
        ($"n_rows_cur".cast("double") / $"n_rows_base").as("row_growth"),
        $"null_rate_base", $"null_rate_cur",
        $"n_distinct_base", $"n_distinct_cur",
        ($"n_distinct_cur".cast("double") / $"n_distinct_base")
          .as("distinct_growth"),
        ($"min_base" =!= $"min_cur").as("min_changed"),
        ($"max_base" =!= $"max_cur").as("max_changed"))
      .orderBy($"column_name")
  }

  private val profileDriftOracle = {
    val base = profileSql("events",
      s"WHERE ts <= TIMESTAMP '${Incremental.CHECKPOINT}'", DRIFT_COLS)
    val cur = profileSql("events", "", DRIFT_COLS)
    s"""WITH b AS $base, c AS $cur
       |SELECT b.column_name,
       |       b.n_rows AS n_rows_base, c.n_rows AS n_rows_cur,
       |       CAST(c.n_rows AS DOUBLE) / b.n_rows AS row_growth,
       |       CAST(b.n_null AS DOUBLE) / b.n_rows AS null_rate_base,
       |       CAST(c.n_null AS DOUBLE) / c.n_rows AS null_rate_cur,
       |       b.n_distinct AS n_distinct_base,
       |       c.n_distinct AS n_distinct_cur,
       |       CAST(c.n_distinct AS DOUBLE) / b.n_distinct
       |         AS distinct_growth,
       |       b.min_str <> c.min_str AS min_changed,
       |       b.max_str <> c.max_str AS max_changed
       |FROM b JOIN c ON b.column_name = c.column_name
       |ORDER BY b.column_name""".stripMargin
  }

  private val columnProfileOracle = profileSelects("lineitem", PROFILE_COLS)
    .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  // ---------------------------------------------------------------- q114

  /** Histogram bin width for event values (values span ~0–500 in the
    * fixture → ~10 populated bins). */
  val HIST_BIN_WIDTH = 50.0

  /** Fixed-width value histogram over `events.value` — the distribution
    * profile complementing q112's per-column scalars: bin =
    * floor(value/width) (one deterministic IEEE division + floor, no
    * percentile machinery), per-bin counts, exact bin extremes, and each
    * bin's exact share. The monitoring artifact a pipeline charts per run.
    *
    * 100 TB shape: one scan → one bin-keyed partial+final hash agg; the
    * share window runs over the BIN-grain frame (≤ range/width rows —
    * dimension-sized, the q109 device). */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir, "events")
      .groupBy(floor($"value" / HIST_BIN_WIDTH).cast("long").as("bin"))
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        min($"value").as("min_value"),
        max($"value").as("max_value"))
      .withColumn("bin_lo", $"bin" * HIST_BIN_WIDTH)
      .withColumn("share",
        $"n_events".cast("double") / sum($"n_events").over(all))
      .select($"bin", $"bin_lo", $"n_events", $"min_value", $"max_value",
        $"share")
      .orderBy($"bin")
  }

  private val valueHistogramOracle =
    s"""WITH b AS (
       |  SELECT CAST(floor(value / $HIST_BIN_WIDTH) AS BIGINT) AS bin,
       |         CAST(COUNT(*) AS BIGINT) AS n_events,
       |         MIN(value) AS min_value, MAX(value) AS max_value
       |  FROM events GROUP BY 1
       |)
       |SELECT bin, bin * $HIST_BIN_WIDTH AS bin_lo, n_events,
       |       min_value, max_value,
       |       CAST(n_events AS DOUBLE) / SUM(n_events) OVER () AS share
       |FROM b ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------- q116

  /** Referential-integrity audit between the fact and its parent — the DQ
    * check run before trusting a join's completeness: one row per
    * direction, violation = a fact row whose order key has no parent
    * (orphan) / a parent with no fact row (childless). Rates are one
    * exact division of longs.
    *
    * 100 TB shape: ONE scan per table (both directions come from the same
    * plan — the naive per-leg formulation reads each table twice): each
    * side collapses to KEY grain with its multiplicity, a single
    * full-outer key-equi join lines the two key sets up, and one 1-row
    * aggregate derives both directions (weighting null-partner keys by
    * their multiplicity restores row-level counts exactly). The melt to
    * two report rows explodes the 1-row aggregate — free. Exchanged
    * bytes are key-grain everywhere. */
  def fkOrphans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val liK = Tables(spark, dir, "lineitem")
      .groupBy($"l_orderkey".as("k")).agg(count(lit(1)).as("n_li"))
    val oK = Tables(spark, dir, "orders")
      .groupBy($"o_orderkey".as("k")).agg(count(lit(1)).as("n_o"))
    val one = liK.join(oK, Seq("k"), "full_outer")
      .agg(
        sum(coalesce($"n_li", lit(0L))).cast("long").as("li_rows"),
        sum(when($"n_o".isNull, $"n_li").otherwise(0L)).cast("long")
          .as("li_viol"),
        sum(coalesce($"n_o", lit(0L))).cast("long").as("o_rows"),
        sum(when($"n_li".isNull, $"n_o").otherwise(0L)).cast("long")
          .as("o_viol"))
    one.select(explode(array(
      struct(lit("lineitem_orphans").as("check"),
        $"li_rows".as("n_rows"), $"li_viol".as("n_violations")),
      struct(lit("orders_childless").as("check"),
        $"o_rows".as("n_rows"), $"o_viol".as("n_violations")))).as("r"))
      .select($"r.check", $"r.n_rows", $"r.n_violations",
        ($"r.n_violations".cast("double") / $"r.n_rows")
          .as("violation_rate"))
      .orderBy($"check")
  }

  private val fkOrphansOracle =
    """SELECT 'lineitem_orphans' AS "check",
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_violations,
      |       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
      |            AS DOUBLE) / COUNT(*) AS violation_rate
      |FROM lineitem l
      |LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      |  ON l.l_orderkey = o.o_orderkey
      |UNION ALL
      |SELECT 'orders_childless',
      |       CAST(COUNT(*) AS BIGINT),
      |       CAST(SUM(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT),
      |       CAST(SUM(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
      |            AS DOUBLE) / COUNT(*)
      |FROM orders o
      |LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
      |  ON o.o_orderkey = l.l_orderkey
      |ORDER BY "check" """.stripMargin

  val all: Seq[Query] = Seq(
    Query("q19_dq_valid_events",
      "events surviving the first-match DQ rule ladder (F1-F4/C14)",
      validEvents, Some(validOracle)),
    Query("q20_dq_quarantine_summary",
      "row counts per DQ disposition including valid (quarantine side-output)",
      quarantineSummary, Some(quarantineOracle)),
    Query("q112_column_profile",
      "deequ-style column profiling: nulls, exact distincts, type-pinned min/max strings, melt-first two-stage agg",
      columnProfile, Some(columnProfileOracle), headline = false),
    Query("q114_value_histogram",
      "fixed-width value histogram with exact per-bin extremes and shares",
      valueHistogram, Some(valueHistogramOracle), headline = false),
    Query("q116_fk_orphans",
      "referential-integrity audit: fact orphans + childless parents, one distinct-key join per direction",
      fkOrphans, Some(fkOrphansOracle), headline = false),
    Query("q118_profile_drift",
      "profile-drift monitor: baseline-vs-current column profiles joined with exact-ratio drift metrics",
      profileDrift, Some(profileDriftOracle), headline = false))
}
