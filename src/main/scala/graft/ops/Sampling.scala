package graft.ops

import graft.{Dx, Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-composition operators over `documents`: deterministic stratified
  * sampling (the "training-mix" op — downweight the dominant language,
  * keep the tail) and exact interpolated length quantiles per stratum.
  * Not in the reference; first-class LLM-pipeline surface per the builder
  * brief, with full DuckDB oracles.
  *
  * 100 TB design notes:
  *  - Sampling is a pure PROJECTION + filter: the keep decision is a hash
  *    of the row's own id against a per-stratum threshold — no shuffle, no
  *    state, no count-first pass; the same row is kept or dropped on every
  *    re-run, on any cluster, at any parallelism (re-runnable lineage, the
  *    property `rand()`-based sampling loses).
  *  - Rates are by-stratum literals here; a production run derives them
  *    from q22-style stats and inlines them the same way.
  *  - Quantiles shuffle once keyed by lang, then per-lang sort windows; the
  *    4-row probe table rides a broadcast nested-loop join. At petabyte
  *    stratum sizes swap the exact sort for `percentile_approx` — the
  *    operator contract (lang, p, q) is unchanged.
  */
object Sampling {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** Per-language keep rates: the synthetic corpus is ~44% English
    * (q22), so en is downsampled 4× and the tail kept at 3/4. */
  val RATES: Seq[(String, Double)] =
    Seq("en" -> 0.25, "de" -> 0.75, "es" -> 0.75, "fr" -> 0.75, "zh" -> 0.75)

  /** Salt pinning the sample membership independent of any other hash use. */
  val SAMPLE_SALT = "graft-sample:"

  private val HASH_SPACE: Long = 1L << 32 // 8 hex chars

  // ---------------------------------------------------------------- q65

  /** Deterministic stratified sample: keep a document iff the first 8 hex
    * chars of md5(salt ‖ doc_id), read as an integer, fall under
    * floor(rate(lang) · 2³²). Membership is a pure function of
    * (doc_id, lang) — stable under re-runs, incremental loads, and
    * cluster re-partitioning. Unknown strata default to rate 0 (dropped):
    * an unconfigured language never silently floods the mix. */
  /** The reusable core: tag any (doc_id, stratum) frame with its sample
    * key and keep rows under their stratum's threshold. Pure projection —
    * composes onto a curation verdict as cheaply as onto the raw corpus
    * ([[graft.CurationPipeline]] applies it to q62's survivors, sampling
    * on the PREDICTED language). */
  def sampleFilter(df: DataFrame, stratumCol: String): DataFrame = {
    val threshold: Column = RATES.foldLeft(lit(0L)) { case (acc, (l, r)) =>
      when(col(stratumCol) === l, lit((r * HASH_SPACE).toLong)).otherwise(acc)
    }
    df.withColumn("sample_key", Dx.hashKey(SAMPLE_SALT, col("doc_id")))
      .filter(col("sample_key") < threshold)
  }

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sampleFilter(docs(spark, dir), "lang")
      .select($"doc_id", $"lang", $"source", $"n_chars", $"sample_key")
  }

  private val stratifiedOracle = {
    val hex = Dx.sqlHex2Long(
      s"md5('$SAMPLE_SALT' || CAST(doc_id AS VARCHAR))", 8)
    val cases = RATES.map { case (l, r) =>
      s"WHEN lang = '$l' THEN ${(r * HASH_SPACE).toLong}"
    }.mkString(" ")
    s"""SELECT doc_id, lang, source, n_chars, $hex AS sample_key
       |FROM documents
       |WHERE $hex < CASE $cases ELSE 0 END
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q69

  /** Probe points for the length-distribution profile. */
  val QUANTILES: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)

  /** Exact linearly-interpolated quantiles (type-7, the pandas/NumPy
    * default: h = (n−1)p, q = a + (b−a)·(h−⌊h⌋)) of `n_chars` per lang.
    * Implemented as explicit rank arithmetic on BOTH sides rather than
    * `percentile`/`quantile_cont` builtins, so the interpolation formula —
    * and therefore every double bit — is pinned by construction instead of
    * by hoping two engines' builtins agree. */
  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    interpolatedQuantiles(docs(spark, dir).select($"lang", $"n_chars"), "q")
      .orderBy($"lang", $"p")
  }

  /** Per-lang type-7 quantiles of `n_chars` over (lang, n_chars) rows
    * `src`, at every [[QUANTILES]] p: (lang, p, `out`, `more`…), where
    * `more` are further aggregates over the same (lang, p) groups. The
    * two order statistics are picked by row number and interpolated as
    * lo + (hi − lo)·(h − ⌊h⌋), h = (n − 1)·p. */
  private[ops] def interpolatedQuantiles(src: DataFrame, out: String,
      more: Column*): DataFrame = {
    import src.sparkSession.implicits._
    val byVal = Window.partitionBy($"lang").orderBy($"n_chars")
    val all = Window.partitionBy($"lang")
    src
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(all))
      .crossJoin(QUANTILES.toDF("p"))
      .withColumn("h", ($"n" - 1) * $"p")
      .withColumn("lo", floor($"h").cast("long"))
      .withColumn("hi", ceil($"h").cast("long"))
      .filter($"rn" === $"lo" + 1 || $"rn" === $"hi" + 1)
      .groupBy($"lang", $"p")
      .agg((min(when($"rn" === $"lo" + 1, $"n_chars")).cast("double") +
        (max(when($"rn" === $"hi" + 1, $"n_chars")) -
          min(when($"rn" === $"lo" + 1, $"n_chars"))) *
          (max($"h") - max($"lo"))).as(out), more: _*)
  }

  private val quantilesOracle = {
    val plist = QUANTILES.map(p => s"CAST($p AS DOUBLE)").mkString(", ")
    s"""WITH v AS (
       |  SELECT lang, n_chars,
       |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
       |         COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM documents
       |), p AS (SELECT unnest([$plist]) AS p),
       |pos AS (
       |  SELECT v.lang, p.p, v.n_chars, v.rn,
       |         CAST(floor((v.n - 1) * p.p) AS BIGINT) AS lo,
       |         CAST(ceil((v.n - 1) * p.p) AS BIGINT) AS hi,
       |         (v.n - 1) * p.p AS h
       |  FROM v, p
       |  WHERE v.rn = CAST(floor((v.n - 1) * p.p) AS BIGINT) + 1
       |     OR v.rn = CAST(ceil((v.n - 1) * p.p) AS BIGINT) + 1
       |)
       |SELECT lang, p,
       |  CAST(MIN(CASE WHEN rn = lo + 1 THEN n_chars END) AS DOUBLE)
       |    + (MAX(CASE WHEN rn = hi + 1 THEN n_chars END)
       |       - MIN(CASE WHEN rn = lo + 1 THEN n_chars END))
       |      * (MAX(h) - MAX(lo)) AS q
       |FROM pos GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q71

  /** Target mix shares in percent — the training-mix recipe (sums ≤ 100;
    * the remainder is the budget's slack). Integer percents keep every
    * allocation in exact integer arithmetic. */
  val MIX_TARGETS: Seq[(String, Long)] =
    Seq("en" -> 30L, "de" -> 20L, "es" -> 20L, "fr" -> 15L, "zh" -> 15L)

  /** Token-budget mix allocation: given per-language available tokens
    * (whitespace tokens, as q22 counts them) and target mix shares,
    * allocate a token budget of 2/5 of the corpus per stratum, capped by
    * availability — the one-pass scheduling step between corpus stats and
    * [[stratifiedSample]] (alloc/avail IS the stratum's sampling rate).
    * All allocation math is integer (floor division), so the only double
    * is the final rate — one exact division. Languages without a target
    * get 0 (never silently flood the mix); water-filling the leftover is
    * a second identical pass with the residual budget, not done here.
    *
    * Scale shape: one partial+final agg to stratum grain (stratum count ≪
    * corpus), a broadcast join against the literal target dimension, and
    * a 1-row broadcast budget — nothing after the first agg touches
    * corpus-sized data. */
  def mixAllocation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val avail = docs(spark, dir)
      .select($"lang", size(split($"text", " ")).cast("long").as("n_tok"))
      .groupBy($"lang")
      .agg(sum($"n_tok").as("avail_tokens"))
    val budget = avail.agg(expr("sum(avail_tokens) * 2 div 5").as("budget_tokens"))
    val targets = MIX_TARGETS.toDF("lang", "target_pct")
    avail
      .join(broadcast(targets), Seq("lang"), "left")
      .withColumn("target_pct", coalesce($"target_pct", lit(0L)))
      .crossJoin(broadcast(budget))
      .withColumn("alloc_tokens",
        least($"avail_tokens", expr("budget_tokens * target_pct div 100")))
      .withColumn("sample_rate",
        $"alloc_tokens".cast("double") / $"avail_tokens")
      .select($"lang", $"avail_tokens", $"target_pct", $"budget_tokens",
        $"alloc_tokens", $"sample_rate")
      .orderBy($"lang")
  }

  private val mixAllocationOracle = {
    val values = MIX_TARGETS.map { case (l, p) => s"('$l', $p)" }.mkString(", ")
    s"""WITH avail AS (
       |  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
       |           AS avail_tokens
       |  FROM documents GROUP BY 1
       |), budget AS (
       |  SELECT SUM(avail_tokens) * 2 // 5 AS budget_tokens FROM avail
       |), t(lang, target_pct) AS (VALUES $values)
       |SELECT a.lang, a.avail_tokens,
       |       CAST(COALESCE(t.target_pct, 0) AS BIGINT) AS target_pct,
       |       CAST(b.budget_tokens AS BIGINT) AS budget_tokens,
       |       CAST(LEAST(a.avail_tokens,
       |                  b.budget_tokens * COALESCE(t.target_pct, 0) // 100)
       |            AS BIGINT) AS alloc_tokens,
       |       CAST(LEAST(a.avail_tokens,
       |                  b.budget_tokens * COALESCE(t.target_pct, 0) // 100)
       |            AS DOUBLE) / a.avail_tokens AS sample_rate
       |FROM avail a LEFT JOIN t ON a.lang = t.lang, budget b
       |ORDER BY a.lang""".stripMargin
  }

  // ---------------------------------------------------------------- q77

  /** Length quartiles as NTILE(4) per language — the tier assignment a
    * curation run uses to stratify by document size (tier 1 = shortest
    * quarter). Ordering ties are pinned by doc_id so both engines place
    * equal-length docs in the same tier; NTILE's uneven-division rule
    * (larger groups first) is SQL-standard in both. One shuffle keyed by
    * lang; the tier aggregate collapses before output. */
  def lengthQuartiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"lang").orderBy($"n_chars", $"doc_id")
    docs(spark, dir)
      .select($"lang", $"doc_id", $"n_chars",
        ntile(4).over(w).cast("long").as("tier"))
      .groupBy($"lang", $"tier")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        min($"n_chars").cast("long").as("min_chars"),
        max($"n_chars").cast("long").as("max_chars"),
        (sum($"n_chars").cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy($"lang", $"tier")
  }

  private val quartilesOracle =
    """SELECT lang, tier,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      |       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
      |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
      |FROM (SELECT lang, n_chars,
      |             CAST(NTILE(4) OVER (PARTITION BY lang
      |                                 ORDER BY n_chars, doc_id) AS BIGINT)
      |               AS tier
      |      FROM documents)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q74

  /** Corpus stats at every grain in one pass: ROLLUP(lang, source) emits
    * (lang, source), per-lang subtotals and the grand total from a
    * single aggregation — the operator family (grouping sets) nothing in
    * the reference exercises. `lvl` states the grain explicitly from
    * NULLness (0=leaf, 1=per-lang, 3=grand total; the corpus has no null
    * lang/source, so NULL is unambiguous here — data with nullable keys
    * would read grouping_id() instead, which DuckDB cannot replay
    * bit-compatibly). Spark plans rollup as ONE expand+aggregate:
    * subtotals cost an expand factor, not extra scans. */
  def statsRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .rollup($"lang", $"source")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum($"n_chars").cast("long").as("total_chars"))
      .withColumn("lvl",
        ($"lang".isNull.cast("long") * 2 +
          $"source".isNull.cast("long")).cast("long"))
      .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))
  }

  private val statsRollupOracle =
    """SELECT lang, source,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |       CAST(CASE WHEN lang IS NULL THEN 2 ELSE 0 END
      |            + CASE WHEN source IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |         AS lvl
      |FROM documents GROUP BY ROLLUP (lang, source)
      |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q94

  /** Training-sequence capacity in tokens for [[sequencePacking]] — the
    * context-window size the packed batches target. */
  val SEQ_LEN: Long = 2048L

  /** Concat-and-chunk sequence packing: lay the whole corpus out as one
    * token stream (docs in doc_id order, token counts by q49's BPE-ish
    * pre-tokenizer) and cut it into fixed-[[SEQ_LEN]] training sequences —
    * the GPT-style packing step between a curated corpus and a training
    * run. Emits one row per sequence: how many documents contribute, how
    * many arrive whole (vs split across a boundary), exact token fill,
    * and the contributing doc_id range.
    *
    * Scale shape: the global token offsets are a corpus-sized prefix sum,
    * which is exactly the operator [[Scale.prefixSum]] exists for — a
    * range partition by doc_id, per-partition local cumsums, and a
    * partition-count-sized offset rollup; NO single-partition window ever
    * sees the corpus. Each doc then explodes into the (usually 1–2)
    * sequences its span intersects — fan-out bounded by doc_len/SEQ_LEN+1
    * per doc, corpus_tokens/SEQ_LEN total (the size of the OUTPUT) — and
    * one seq_id-keyed aggregation collapses to sequence grain. */
  def sequencePacking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // tracked: prefixSum's range sampling and map stage both read it
    val toks = graft.Caches.track(s"sampling.packTokens:$dir",
      docs(spark, dir)
        .select($"doc_id",
          size(expr(
            s"regexp_extract_all(text, '${TextPipeline.BPE_PATTERN}', 0)"))
            .cast("long").as("n_tokens")))
    val spans = Scale
      .prefixSum(toks, Seq($"doc_id"), $"n_tokens", "tok_end", "corpus_tok")
      .filter($"n_tokens" > 0)
      .withColumn("tok_start", $"tok_end" - $"n_tokens")
    spans
      .select($"doc_id", $"tok_start", $"tok_end",
        explode(sequence(
          expr(s"tok_start div $SEQ_LEN"),
          expr(s"(tok_end - 1) div $SEQ_LEN"))).as("seq_id"))
      .groupBy($"seq_id")
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        count(when($"tok_start" >= $"seq_id" * SEQ_LEN &&
          $"tok_end" <= ($"seq_id" + 1) * SEQ_LEN, lit(1)))
          .cast("long").as("n_whole_docs"),
        sum(least($"tok_end", ($"seq_id" + 1) * SEQ_LEN) -
          greatest($"tok_start", $"seq_id" * SEQ_LEN))
          .cast("long").as("n_tokens"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"))
      .withColumn("fill_frac", $"n_tokens".cast("double") / SEQ_LEN)
      .orderBy($"seq_id")
  }

  private val packingOracle =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(regexp_extract_all(text,
       |                  '${TextPipeline.BPE_PATTERN}')) AS BIGINT)
       |           AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS BIGINT) AS tok_end
       |  FROM t
       |), s AS (
       |  SELECT doc_id, tok_end - n_tokens AS tok_start, tok_end
       |  FROM c WHERE n_tokens > 0
       |), x AS (
       |  SELECT doc_id, tok_start, tok_end,
       |         UNNEST(generate_series(tok_start // $SEQ_LEN,
       |                                (tok_end - 1) // $SEQ_LEN)) AS seq_id
       |  FROM s
       |)
       |SELECT seq_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(COUNT(*) FILTER (WHERE tok_start >= seq_id * $SEQ_LEN
       |              AND tok_end <= (seq_id + 1) * $SEQ_LEN) AS BIGINT)
       |         AS n_whole_docs,
       |       CAST(SUM(LEAST(tok_end, (seq_id + 1) * $SEQ_LEN)
       |              - GREATEST(tok_start, seq_id * $SEQ_LEN)) AS BIGINT)
       |         AS n_tokens,
       |       MIN(doc_id) AS first_doc,
       |       MAX(doc_id) AS last_doc,
       |       CAST(SUM(LEAST(tok_end, (seq_id + 1) * $SEQ_LEN)
       |              - GREATEST(tok_start, seq_id * $SEQ_LEN)) AS DOUBLE)
       |         / $SEQ_LEN AS fill_frac
       |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q96

  /** Epoch size (documents) the [[temperatureMix]] allocation targets. */
  val EPOCH_DOCS: Long = 10000L

  /** Fixed-point scale for the integer temperature weights: w =
    * floor(sqrt(n_docs · 10⁶)) ≈ 10³·√n_docs, so three decimal digits of
    * the root survive the floor. */
  val TEMP_SCALE: Long = 1000000L

  /** Temperature-flattened source mixing (α = 0.5): sampling weights
    * ∝ n_docs^α per source, the standard flattening between
    * proportional (α=1, head domains drown the tail) and uniform (α=0,
    * tiny domains oversample to noise). Complements q71's explicit
    * target shares: here the recipe is DERIVED from corpus counts.
    *
    * Cross-engine exactness: the weight is floor(sqrt(n·10⁶)) as a
    * BIGINT — IEEE sqrt is correctly rounded in both engines and
    * n·10⁶ < 2⁵³ stays an exact double, so the floored root is
    * bit-pinned; the normalizing total is then an INTEGER sum
    * (order-independent, unlike a float sum of 20 roots), and the only
    * doubles are final single divisions. Epoch allocation is floor
    * division — never over-commits the epoch.
    *
    * Scale shape: one agg to source grain (sources ≪ corpus), a 1-row
    * broadcast total; nothing after the first agg is corpus-sized. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bySource = docs(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .withColumn("w",
        floor(sqrt($"n_docs".cast("double") * TEMP_SCALE)).cast("long"))
    val totals = bySource.agg(
      sum($"w").cast("long").as("total_w"),
      sum($"n_docs").cast("long").as("total_docs"))
    bySource
      .crossJoin(broadcast(totals))
      .select(
        $"source", $"n_docs", $"w",
        ($"w".cast("double") / $"total_w").as("mix_weight"),
        expr(s"$EPOCH_DOCS * w div total_w").cast("long")
          .as("docs_per_epoch"),
        (($"w".cast("double") / $"total_w") /
          ($"n_docs".cast("double") / $"total_docs")).as("upweight"))
      .orderBy($"source")
  }

  private val temperatureOracle =
    s"""WITH a AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY 1
       |), w AS (
       |  SELECT source, n_docs,
       |         CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * $TEMP_SCALE))
       |              AS BIGINT) AS w
       |  FROM a
       |), t AS (
       |  SELECT CAST(SUM(w) AS BIGINT) AS total_w,
       |         CAST(SUM(n_docs) AS BIGINT) AS total_docs
       |  FROM w
       |)
       |SELECT source, n_docs, w,
       |       CAST(w AS DOUBLE) / total_w AS mix_weight,
       |       CAST($EPOCH_DOCS * w // total_w AS BIGINT) AS docs_per_epoch,
       |       (CAST(w AS DOUBLE) / total_w)
       |         / (CAST(n_docs AS DOUBLE) / total_docs) AS upweight
       |FROM w, t ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q147

  /** Token budget the epoch plan allocates, as a multiple of the corpus's
    * own token count (2 = "train for two corpus-equivalents of tokens" —
    * the regime where epoch caps actually bind somewhere). */
  val EPOCH_TOKEN_MULT = 2L

  /** Per-source repetition ceiling: no source is scheduled past this many
    * epochs regardless of its weight (the Muennighoff et al. 2023 /
    * "data-constrained scaling" discipline — returns on repeated data
    * decay past ~4 epochs, so weight a cap would overshoot into is
    * unmet, not silently over-repeated). */
  val MAX_EPOCHS = 4L

  /** Token-budget epoch plan — the LAST mix-stack decision before
    * training launches, completing q71 (explicit targets) → q96 (derived
    * temperature weights) → q139/q141 (hard caps) → q140/q105 (ordering):
    * given a total token budget B = [[EPOCH_TOKEN_MULT]]·Σtokens and
    * α=0.5 temperature weights over per-source TOKEN counts, each source
    * gets target_tokens = B·w div Σw, scheduled as
    * epochs = min([[MAX_EPOCHS]], ⌈target/T_s⌉) passes over its data;
    * planned_tokens = min(target, epochs·T_s) and unmet_tokens is the
    * budget the epoch cap refuses — the number the mix owner reallocates
    * or accepts (fewer total tokens) BEFORE burning compute.
    *
    * Cross-engine exactness (the q96 device, applied to tokens): weights
    * are floor(sqrt(n_tokens·10⁶)) BIGINTs (IEEE sqrt correctly rounded
    * in both engines, argument < 2⁵³ exact), budget/target/epoch math is
    * pure integer floor/ceil division, and the only double is the final
    * planned_share division. Width note: B·w peaks ~3e14 at sf0.1 —
    * 4 BIGINT orders of headroom; a corpus past ~10¹¹ tokens swaps the
    * product to DECIMAL(38,0) (the q129 contract, unchanged semantics).
    *
    * Scale shape: one corpus scan → source-grain agg (map-side combined;
    * n_tokens sums a per-row `size(split(…))` projection, no explode) +
    * a 1-row broadcast total; everything after is dimension-sized. */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Persisted at SOURCE grain (≤ sources rows): the totals rollup
    // consumes only (w, n_tokens), so column pruning rewrites ITS
    // aggregate differently from the plan branch that keeps n_docs —
    // two non-identical subtrees, no exchange reuse, two corpus scans
    // (measured by the scan audit; q96 escapes because its
    // totals consume every non-key agg output).
    val bySource = graft.Caches.track(s"sampling.epochBySource:$dir",
      docs(spark, dir)
        .select($"source", size(split($"text", " ")).cast("long").as("nt"))
        .groupBy($"source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum($"nt").cast("long").as("n_tokens"))
        .withColumn("w",
          floor(sqrt($"n_tokens".cast("double") * TEMP_SCALE)).cast("long")))
    val totals = bySource.agg(
      sum($"w").cast("long").as("total_w"),
      sum($"n_tokens").cast("long").as("total_tokens"))
    bySource.crossJoin(broadcast(totals))
      .withColumn("target_tokens",
        expr(s"($EPOCH_TOKEN_MULT * total_tokens) * w div total_w")
          .cast("long"))
      .withColumn("epochs",
        least(lit(MAX_EPOCHS),
          expr("(target_tokens + n_tokens - 1) div n_tokens"))
          .cast("long"))
      .withColumn("planned_tokens",
        least($"target_tokens", $"epochs" * $"n_tokens").cast("long"))
      .withColumn("unmet_tokens",
        ($"target_tokens" - $"planned_tokens").cast("long"))
      .withColumn("planned_share",
        $"planned_tokens".cast("double") /
          ($"total_tokens" * EPOCH_TOKEN_MULT).cast("double"))
      .select($"source", $"n_docs", $"n_tokens", $"w", $"target_tokens",
        $"epochs", $"planned_tokens", $"unmet_tokens", $"planned_share")
      .orderBy($"source")
  }

  private val epochPlanOracle =
    s"""WITH a AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
       |           AS n_tokens
       |  FROM documents GROUP BY 1
       |), w AS (
       |  SELECT source, n_docs, n_tokens,
       |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) * $TEMP_SCALE))
       |              AS BIGINT) AS w
       |  FROM a
       |), t AS (
       |  SELECT CAST(SUM(w) AS BIGINT) AS total_w,
       |         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |  FROM w
       |), p AS (
       |  SELECT source, n_docs, n_tokens, w,
       |         CAST(($EPOCH_TOKEN_MULT * total_tokens) * w // total_w
       |              AS BIGINT) AS target_tokens,
       |         total_tokens
       |  FROM w, t
       |), e AS (
       |  SELECT *, CAST(least($MAX_EPOCHS,
       |           (target_tokens + n_tokens - 1) // n_tokens) AS BIGINT)
       |           AS epochs
       |  FROM p
       |)
       |SELECT source, n_docs, n_tokens, w, target_tokens, epochs,
       |       CAST(least(target_tokens, epochs * n_tokens) AS BIGINT)
       |         AS planned_tokens,
       |       CAST(target_tokens - least(target_tokens, epochs * n_tokens)
       |            AS BIGINT) AS unmet_tokens,
       |       CAST(least(target_tokens, epochs * n_tokens) AS DOUBLE)
       |         / CAST(total_tokens * $EPOCH_TOKEN_MULT AS DOUBLE)
       |         AS planned_share
       |FROM e ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q105

  /** Output shard count for the training-order shuffle. 16 against the
    * fixture; a deploy sets this ≥ cluster write parallelism (e.g. 4096 at
    * 100 TB) — shards are independent, so the constant trades file count
    * against per-shard task size, nothing else. */
  val N_SHARDS = 16L

  /** Salt pinning shuffle order independent of every other hash use. */
  val SHUFFLE_SALT = "graft-shuffle:"

  /** Deterministic global training shuffle + shard packing — the step
    * between curation and the data loader: every document gets a shard, a
    * position within the shard, and its exclusive token offset, all pure
    * functions of doc_id. `rand()`-free: the order is the md5 keyspace
    * order, so a re-run, an incremental append, or a different cluster
    * produces the SAME training order (and a loader can seek any (shard,
    * offset) reproducibly).
    *
    * 100 TB shape: one projection computes (key, shard, n_tokens); ONE
    * exchange keys by shard; position and token offset are per-shard
    * windows — each shard is one reducer's ordered stream, and shard
    * count is the parallelism knob (see [[N_SHARDS]]). A shard too big
    * for one reducer swaps the window for [[Scale.prefixSum]]'s two-pass
    * form (the q08/q94 precedent) — contract unchanged. */
  def trainingShuffle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keyed = docs(spark, dir)
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("shuffle_key", Dx.hashKey(SHUFFLE_SALT, $"doc_id"))
      .withColumn("shard", pmod($"shuffle_key", lit(N_SHARDS)).cast("long"))
    val order = Window.partitionBy($"shard")
      .orderBy($"shuffle_key", $"doc_id")
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed
      .withColumn("pos", (row_number().over(order) - 1).cast("long"))
      .withColumn("token_offset",
        (sum($"n_tokens").over(run) - $"n_tokens").cast("long"))
      .select($"doc_id", $"shard", $"pos", $"n_tokens", $"token_offset")
      .orderBy($"shard", $"pos")
  }

  private val trainingShuffleOracle = {
    val hex = Dx.sqlHex2Long(
      s"md5('$SHUFFLE_SALT' || CAST(doc_id AS VARCHAR))", 8)
    s"""WITH k AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         $hex AS shuffle_key,
       |         CAST($hex % $N_SHARDS AS BIGINT) AS shard
       |  FROM documents
       |)
       |SELECT doc_id, shard,
       |       CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS pos,
       |       n_tokens,
       |       CAST(SUM(n_tokens) OVER (PARTITION BY shard
       |              ORDER BY shuffle_key, doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            - n_tokens AS BIGINT) AS token_offset
       |FROM k
       |WINDOW w AS (PARTITION BY shard ORDER BY shuffle_key, doc_id)
       |ORDER BY shard, pos""".stripMargin
  }

  // ---------------------------------------------------------------- q113

  /** Salt pinning weighted-sample membership independent of every other
    * hash use. */
  val WSAMPLE_SALT = "graft-wsample:"

  /** Docs at or above this many chars are always kept (keep probability
    * clamps to 1). 256 splits the fixture corpus non-trivially (its
    * n_chars cluster around ~150). */
  val WSAMPLE_FULL_CHARS = 256L

  /** Per-row WEIGHTED deterministic sampling — q65's device with a
    * continuous, row-derived rate instead of a per-stratum literal: keep
    * probability = min(1, n_chars/256), i.e. longer documents are
    * proportionally likelier to survive (the "importance sampling by
    * quality signal" shape; any row-computable weight slots in). The
    * threshold stays EXACT INTEGER arithmetic — n_chars·2²⁴ against the
    * 32-bit hash key (2³²/256 = 2²⁴) — and the reported keep_prob is one
    * division by a power of two (exact in binary floating point).
    * Membership is a pure function of (doc_id, n_chars): stable under
    * re-runs, increments, and any cluster layout, the property
    * weighted-`rand()` sampling loses.
    *
    * 100 TB shape: pure projection + filter, no shuffle, no count pass,
    * no RNG state — identical to q65's. */
  def lengthWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .withColumn("sample_key", Dx.hashKey(WSAMPLE_SALT, $"doc_id"))
      .filter($"sample_key" <
        least(lit(HASH_SPACE), $"n_chars" * lit(HASH_SPACE / WSAMPLE_FULL_CHARS)))
      .select($"doc_id", $"lang", $"n_chars", $"sample_key",
        (least(lit(HASH_SPACE), $"n_chars" * lit(HASH_SPACE / WSAMPLE_FULL_CHARS))
          .cast("double") / HASH_SPACE.toDouble).as("keep_prob"))
  }

  private val wsampleOracle = {
    val hex = Dx.sqlHex2Long(
      s"md5('$WSAMPLE_SALT' || CAST(doc_id AS VARCHAR))", 8)
    val thr = s"LEAST($HASH_SPACE, n_chars * ${HASH_SPACE / WSAMPLE_FULL_CHARS})"
    s"""SELECT doc_id, lang, n_chars, $hex AS sample_key,
       |       CAST($thr AS DOUBLE) / $HASH_SPACE AS keep_prob
       |FROM documents
       |WHERE $hex < $thr
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q155

  /** Reservoir size per stratum for [[weightedReservoir]]. */
  val RSAMPLE_K = 10

  /** Salt pinning reservoir membership independent of every other hash
    * use. */
  val RSAMPLE_SALT = "graft-rsample:"

  /** FIXED-SIZE weighted sampling without replacement — the
    * Efraimidis–Spiliotis A-ES reservoir (2006, public) as one Spark
    * plan: each document draws a deterministic uniform u from its md5
    * key, gets sort key u^(1/w) — computed as ln(u)/w so the whole key
    * is [[graft.functions.PinnedMath.lnRatioSql]] (one pinned ln of the
    * exact rational (h+1)/2³² ) over one correctly rounded division —
    * and the k LARGEST keys per stratum are exactly a
    * probability-∝-weight sample without replacement. Complements q113
    * (Bernoulli keep at a weight-derived RATE — output size varies) and
    * q65 (fixed rate per stratum): this is the "give me EXACTLY k docs
    * per language, long docs proportionally likelier" shape.
    *
    * Determinism: u is a pure function of doc_id (stable under re-runs,
    * increments, any partitioning — the property weighted `rand()`
    * sampling loses); the ln is libm-free and bit-equal cross-engine;
    * ties are impossible in practice and broken by doc_id anyway.
    *
    * 100 TB shape: ONE scan + one lang-keyed exchange; the rank-≤-k
    * row_number filter is the InferWindowGroupLimit pattern (q139's
    * device), so every map task ships at most k rows per stratum — the
    * reservoir property ("bounded state per stratum regardless of input
    * size") realized by the engine's partial top-K. Mergeable by
    * construction: the union of two corpora's reservoirs re-ranked is
    * the corpus-union reservoir (keys are row-intrinsic). */
  /** (lang, doc_id, n_chars, smp_key) — the A-ES key projection; the
    * key is row-intrinsic (a pure function of doc_id and n_chars), the
    * property both the one-shot reservoir and the increment rest on. */
  private def reservoirKeyed(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    // pinned ln as a LINEAR projected-column tree (lnRatioCols; guide
    // §4): this one runs at ROW grain, so the spliced-text form handed
    // codegen a ~3k-node projection per corpus row's plan — same op
    // sequence, bit-identical key.
    graft.functions.PinnedMath.lnRatioCols(
      df.withColumn("u_num", Dx.hashKey(RSAMPLE_SALT, $"doc_id") + lit(1L))
        .withColumn("wt", greatest($"n_chars", lit(1L))),
      "u_num", "4294967296", "__ln_u")
      .withColumn("smp_key", $"__ln_u" / $"wt".cast("double"))
      .select($"lang", $"doc_id", $"n_chars", $"smp_key")
  }

  /** Top-[[RSAMPLE_K]] per stratum by (smp_key desc, doc_id) — the
    * WindowGroupLimit-rewritten rank cap both paths share. */
  private def reservoirRank(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"smp_key".desc, $"doc_id")
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= RSAMPLE_K)
      .select($"lang", $"doc_id", $"n_chars", $"smp_key", $"rk")
  }

  def weightedReservoir(spark: SparkSession, dir: String): DataFrame =
    reservoirRank(reservoirKeyed(docs(spark, dir)))

  // ---------------------------------------------------------------- q159

  private val liveReservoirDir = new graft.LiveDirSlot("graft_q159_reservoir")

  /** T1 for the q155 reservoir — the q142 rank-cap merge identity with a
    * ROW-INTRINSIC key, which makes it exact rather than conditional:
    * top-k(A ∪ B) = top-k(top-k(A) ∪ B) holds for ANY rank cap, and
    * because the A-ES key is a pure function of the row (no corpus
    * statistics in it — contrast q157, where V/N shift), the stored
    * reservoir rows never go stale. Maintenance is therefore: stored
    * per-stratum reservoir (k rows per stratum, the WHOLE state) ∪ one
    * keyed scan of the arriving batch, re-rank, cut at k. The driver
    * oracle is the FULL-CORPUS reservoir — the merge identity proven per
    * round. This is the "mergeable by construction" claim in
    * [[weightedReservoir]]'s scaladoc made executable.
    *
    * 100 TB shape: increment cost is batch-sized + (k × strata) stored
    * rows; the registered plan scans `documents` once (the batch leg);
    * the re-rank is over (k·strata + |batch|) rows. Split:
    * max(doc_id)·4/5, the q142/q148/q157 stored/batch carve. */
  /** Shared merge core for q159 and
    * [[graft.streaming.StreamingReservoir]]: stored reservoir rows ⊎ an
    * arriving batch (any frames carrying doc_id, lang, n_chars), SET
    * union (the capMerge device — a replayed batch re-delivers rows
    * already in the state; distinct() is what makes the merge
    * idempotent), re-keyed — the A-ES key is a pure function of the
    * base columns, so recomputing it for the k·strata stored rows is
    * cheap and keeps one formula path — and re-ranked at k. */
  def reservoirMerge(stored: DataFrame, batch: DataFrame): DataFrame = {
    val s = stored.sparkSession
    import s.implicits._
    val cols = Seq($"doc_id", $"lang", $"n_chars")
    reservoirRank(reservoirKeyed(
      stored.select(cols: _*).unionByName(batch.select(cols: _*))
        .distinct()))
  }

  def reservoirIncrement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = docs(spark, dir).select($"doc_id", $"lang", $"n_chars")
    val cut = corpus.agg(expr("max(doc_id) * 4 div 5")).head().getLong(0)
    val rp = liveReservoirDir.next()
    // stored state: the prefix corpus's reservoir, ranks dropped (they
    // recompute on merge)
    reservoirRank(reservoirKeyed(corpus.filter($"doc_id" < cut)))
      .drop("rk")
      .write.mode("overwrite").parquet(s"$rp/q159_reservoir")
    reservoirMerge(
      spark.read.parquet(s"$rp/q159_reservoir"),
      corpus.filter($"doc_id" >= cut))
  }

  private val reservoirOracle = {
    val hex = Dx.sqlHex2Long(
      s"md5('$RSAMPLE_SALT' || CAST(doc_id AS VARCHAR))", 8)
    val ln = graft.functions.PinnedMath.lnRatioSql("u_num", "4294967296")
    s"""WITH b AS (
       |  SELECT doc_id, lang, n_chars,
       |         CAST($hex + 1 AS BIGINT) AS u_num,
       |         GREATEST(n_chars, 1) AS wt
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, lang, n_chars,
       |         ($ln) / CAST(wt AS DOUBLE) AS smp_key
       |  FROM b)
       |SELECT lang, doc_id, n_chars, smp_key, rk FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
       |              ORDER BY smp_key DESC, doc_id) AS BIGINT) AS rk
       |  FROM k)
       |WHERE rk <= $RSAMPLE_K ORDER BY lang, rk""".stripMargin
  }

  // ---------------------------------------------------------------- q139

  /** Per-source document budget for [[sourceCap]]. 10 keeps 40% of each
    * sf0.01 source (25 docs); a source smaller than the cap survives
    * whole (the predicate is a rank bound, not a quota that must fill). */
  val SOURCE_CAP = 10

  /** Per-source document cap — the "no single domain dominates the
    * training mix" curation gate (the RefinedWeb/FineWeb-style dedup
    * successor stage): within every source, rank documents by a quality
    * signal (here `n_chars` descending — any row-computable score slots
    * in; ties broken by doc_id so the cut is total) and keep only the
    * top [[SOURCE_CAP]]. Complements q96 (temperature mix REWEIGHTS
    * sources) and q65 (stratified sampling thins by RATE): the cap is a
    * hard per-source ceiling, the shape used against mega-domains.
    *
    * 100 TB shape: ONE source-keyed exchange. The rank-≤-cap filter over
    * a `row_number` window is the exact pattern Catalyst's
    * InferWindowGroupLimit rewrites into a PARTIAL top-K before the
    * shuffle (WindowGroupLimitExec in Partial mode under each map task,
    * Final mode after) — so a mega-source ships at most cap rows per map
    * partition into its reducer, the engine-native form of the salted
    * two-stage top-K (q51's device), with no salting code to maintain.
    * ScanBudgetSpec pins both the single scan and the group-limit
    * rewrite being present in the executed plan. */
  /** The reusable cap core: rank `df`'s rows within each source by
    * `quality` (desc, doc_id tiebreak) and keep rank ≤ cap, rank exposed
    * as `src_rank`. Any row-computable quality signal slots in — q139
    * ranks the raw corpus by n_chars; [[graft.CurationPipeline]] ranks
    * the CURATED survivors by n_tokens (the verdict's own evidence
    * column), so the cap composes onto a verdict as cheaply as onto the
    * corpus (the [[sampleFilter]] precedent). */
  def capFilter(df: DataFrame, quality: Column,
      cap: Int = SOURCE_CAP): DataFrame = {
    val byQuality = Window.partitionBy(col("source"))
      .orderBy(quality.desc, col("doc_id"))
    df.withColumn("src_rank", row_number().over(byQuality).cast("long"))
      .filter(col("src_rank") <= cap)
  }

  def sourceCap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    capFilter(docs(spark, dir).select($"doc_id", $"source", $"n_chars"),
      $"n_chars")
  }

  private val sourceCapOracle =
    s"""SELECT doc_id, source, CAST(rnk AS BIGINT) AS src_rank, n_chars
       |FROM (
       |  SELECT doc_id, source, n_chars,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |                            ORDER BY n_chars DESC, doc_id) AS rnk
       |  FROM documents)
       |WHERE rnk <= $SOURCE_CAP
       |ORDER BY source, src_rank""".stripMargin

  // ---------------------------------------------------------------- q140

  /** Salt pinning the interleave order independent of every other hash
    * use (q105 shuffles GLOBALLY; this op shuffles WITHIN each source —
    * sharing the salt would make the two orders correlated by
    * construction, which is exactly what an ablation comparing them must
    * not have). */
  val INTERLEAVE_SALT = "graft-interleave:"

  /** Deterministic round-robin source interleave — the training-order
    * guarantee q105's global hash shuffle gives only in expectation:
    * every window of |alive sources| consecutive positions touches each
    * remaining source exactly once (run length per source = 1 until a
    * source exhausts), the "no source-burst" property curriculum
    * schedules want. Round r of the order is the set of every source's
    * r-th document (per-source order = salted md5 keyspace, the q105
    * device per stratum); within a round, sources read in name order.
    *
    * 100 TB shape: NO global sort of the document stream. One
    * source-keyed window gives `src_pos`; one src_pos-keyed window gives
    * the rank within the round; the global position is those two plus a
    * ROUND-GRAIN prefix sum (one row per round, ≤ max-docs-per-source
    * rows — a single-partition window over an aggregate, the q08/q94
    * class; a corpus whose largest source outgrows one reducer swaps it
    * for [[graft.ops.Scale.prefixSum]]'s two-pass form, contract
    * unchanged) broadcast back onto the stream. */
  def sourceInterleave(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val posed = docs(spark, dir)
      .select($"doc_id", $"source")
      .withColumn("ik", Dx.hashKey(INTERLEAVE_SALT, $"doc_id"))
      .withColumn("src_pos", row_number().over(
        Window.partitionBy($"source").orderBy($"ik", $"doc_id")).cast("long"))
    val roundOffsets = posed
      .groupBy($"src_pos").agg(count(lit(1)).as("round_size"))
      .withColumn("round_offset",
        (sum($"round_size").over(
          Window.orderBy($"src_pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - $"round_size").cast("long"))
      .select($"src_pos", $"round_offset")
    posed
      .withColumn("pos_in_round", row_number().over(
        Window.partitionBy($"src_pos").orderBy($"source")).cast("long"))
      .join(broadcast(roundOffsets), Seq("src_pos"))
      .select($"doc_id", $"source", $"src_pos",
        ($"round_offset" + $"pos_in_round" - 1).as("global_pos"))
  }

  // ---------------------------------------------------------------- q142

  private val liveCapDir = new graft.LiveDirSlot("graft_q142_keep")

  /** q142: T1 for the per-source cap — incremental maintenance of the
    * q139 keep list. A rank cap is a MERGEABLE summary: because the
    * rank order (n_chars desc, doc_id) is total and row-intrinsic,
    * top-cap(A ∪ B) = top-cap(top-cap(A) ∪ B) — a batch doc can only
    * displace a stored keeper from the bottom, and no dropped doc can
    * ever re-enter (anything it outranks was already outranked by the
    * stored top-cap). So maintenance is: read the STORED keep list
    * (≤ sources·cap rows — the whole persisted state), union the
    * arriving batch, re-rank per source, cut. The oracle replays the
    * FULL-corpus q139 path against the stored+batch merge — the merge
    * identity proven per driver round, not assumed ([[graft.ops.Sketch]]
    * q134's discipline for HLL register max-merge).
    *
    * 100 TB shape: increment cost is batch-sized (one scan) plus a
    * dimension-sized artifact read; the corpus is never rescanned; the
    * re-rank input is ≤ sources·cap + batch rows, and its rank-≤-cap
    * filter rides the same WindowGroupLimit partial top-K as q139. */
  /** The mergeable-summary core shared by q142 and
    * [[graft.streaming.StreamingCap]]: stored keep list ∪ arriving rows,
    * re-ranked per source, cut at the cap. Because the rank key is total
    * and row-intrinsic, this merge is ASSOCIATIVE and IDEMPOTENT —
    * capMerge(capMerge(S, B), B) = capMerge(S, B) — which is what makes
    * an at-least-once replayed batch exactly-once for free (the
    * streaming twin's delivery contract, spec-pinned). Inputs must carry
    * (doc_id, source, n_chars); stale rank columns are dropped. */
  def capMerge(stored: DataFrame, batch: DataFrame): DataFrame = {
    import stored.sparkSession.implicits._
    val byQuality = Window.partitionBy($"source")
      .orderBy($"n_chars".desc, $"doc_id")
    val cols = Seq($"doc_id", $"source", $"n_chars")
    // SET union, not multiset: a replayed batch re-delivers rows already
    // in the state, and without the dedup a doc would rank twice —
    // distinct() is what makes the merge idempotent (batch-sized input,
    // so the extra exchange is dimension+batch rows, never corpus rows)
    stored.select(cols: _*).unionByName(batch.select(cols: _*)).distinct()
      .withColumn("src_rank", row_number().over(byQuality).cast("long"))
      .filter($"src_rank" <= SOURCE_CAP)
      .select($"doc_id", $"source", $"src_rank", $"n_chars")
  }

  def sourceCapIncrement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = docs(spark, dir).select($"doc_id", $"source", $"n_chars")
    val cut = corpus.agg(expr("max(doc_id) * 4 div 5")).head().getLong(0)
    val kp = liveCapDir.next()
    val byQuality = Window.partitionBy($"source")
      .orderBy($"n_chars".desc, $"doc_id")
    // stored state: the prefix corpus's keep list, ranks dropped (they
    // recompute on merge; keeping them would just be stale columns)
    corpus.filter($"doc_id" < cut)
      .withColumn("r", row_number().over(byQuality))
      .filter($"r" <= SOURCE_CAP).drop("r")
      .write.mode("overwrite").parquet(s"$kp/q142_keep")
    capMerge(spark.read.parquet(s"$kp/q142_keep"),
      corpus.filter($"doc_id" >= cut))
  }

  private val interleaveOracle = {
    val hex = Dx.sqlHex2Long(
      s"md5('$INTERLEAVE_SALT' || CAST(doc_id AS VARCHAR))", 8)
    s"""WITH p AS (
       |  SELECT doc_id, source,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY source
       |                                 ORDER BY $hex, doc_id)
       |              AS BIGINT) AS src_pos
       |  FROM documents)
       |SELECT doc_id, source, src_pos,
       |       CAST(ROW_NUMBER() OVER (ORDER BY src_pos, source) - 1
       |            AS BIGINT) AS global_pos
       |FROM p ORDER BY global_pos""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("q65_stratified_sample",
      "deterministic md5-threshold stratified sample per language stratum",
      // orderBy is compare-presentation (the q42 precedent); its
      // range-partitioner sampling pass re-reads the scan, so the bench
      // times the unordered operator
      (s, d) => stratifiedSample(s, d).orderBy("doc_id"),
      Some(stratifiedOracle), headline = false,
      benchFn = Some(stratifiedSample)),
    Query("q69_length_quantiles",
      "exact type-7 interpolated n_chars quantiles per language (pinned rank arithmetic)",
      lengthQuantiles, Some(quantilesOracle), headline = false),
    Query("q71_mix_allocation",
      "token-budget mix allocation per language: capped integer shares + exact sampling rates",
      mixAllocation, Some(mixAllocationOracle), headline = false),
    Query("q74_stats_rollup",
      "ROLLUP(lang, source) corpus stats: leaf + subtotal + grand total in one expand-aggregate",
      statsRollup, Some(statsRollupOracle), headline = false),
    Query("q77_length_quartiles",
      "NTILE(4) size tiers per language with pinned tie order, per-tier stats",
      lengthQuartiles, Some(quartilesOracle), headline = false),
    Query("q94_sequence_packing",
      "concat-and-chunk packing into 2048-token training sequences via distributed prefix sum",
      sequencePacking, Some(packingOracle), headline = false),
    Query("q96_temperature_mix",
      "α=0.5 temperature-flattened source mix via exact integer-sqrt weights + floor-division epoch allocation",
      temperatureMix, Some(temperatureOracle), headline = false),
    Query("q147_epoch_plan",
      "token-budget epoch plan: temperature targets scheduled as ≤4 epochs/source, unmet budget surfaced (exact integer math)",
      epochPlan, Some(epochPlanOracle), headline = false),
    Query("q105_training_shuffle",
      "deterministic md5-order training shuffle: shard + position + exclusive token offset per document",
      trainingShuffle, Some(trainingShuffleOracle), headline = false),
    Query("q113_weighted_sample",
      "length-weighted deterministic sample: keep_prob = min(1, n_chars/256) via exact integer hash thresholds",
      // orderBy is compare-presentation (the q65 precedent); the bench
      // times the unordered projection
      (s, d) => lengthWeightedSample(s, d).orderBy("doc_id"),
      Some(wsampleOracle), headline = false,
      benchFn = Some(lengthWeightedSample)),
    Query("q155_weighted_reservoir",
      "A-ES weighted reservoir: exactly k docs per language, probability proportional to length, pinned-ln keys bit-exact vs DuckDB",
      (s, d) => weightedReservoir(s, d).orderBy("lang", "rk"),
      Some(reservoirOracle), headline = false,
      benchFn = Some(weightedReservoir)),
    Query("q159_reservoir_increment",
      "maintain->serve for the A-ES reservoir: stored per-stratum reservoir + one keyed batch scan re-ranked == full recompute (intrinsic-key rank-cap identity)",
      (s, d) => reservoirIncrement(s, d).orderBy("lang", "rk"),
      // the oracle is the FULL-corpus reservoir: the driver round proves
      // the merge identity, not just the increment's self-consistency
      Some(reservoirOracle), headline = false,
      benchFn = Some(reservoirIncrement)),
    Query("q139_source_cap",
      "per-source document cap: top-10 by quality rank per source via the engine-native WindowGroupLimit partial top-K",
      // orderBy is compare-presentation (q113 precedent); the bench
      // times the capped stream as a pipeline stage would consume it
      (s, d) => sourceCap(s, d).orderBy("source", "src_rank"),
      Some(sourceCapOracle), headline = false,
      benchFn = Some(sourceCap)),
    Query("q140_source_interleave",
      "round-robin source interleave: run-length-1 training order from two keyed windows + a round-grain prefix sum",
      (s, d) => sourceInterleave(s, d).orderBy("global_pos"),
      Some(interleaveOracle), headline = false,
      benchFn = Some(sourceInterleave)),
    Query("q142_source_cap_increment",
      "maintain->serve for the per-source cap: stored keep list + one batch scan re-ranked == the full-corpus path (rank-cap merge identity)",
      (s, d) => sourceCapIncrement(s, d).orderBy("source", "src_rank"),
      // the oracle is the FULL-corpus recompute: the driver round proves
      // the merge identity, not just the increment's self-consistency
      Some(sourceCapOracle), headline = false,
      benchFn = Some(sourceCapIncrement)))
}
