package graft.ops

import graft.{Dx, Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cardinality sketching over `documents` — the distinct-count estimator
  * a 100 TB pipeline runs where exact `COUNT(DISTINCT)` stops being
  * affordable (q112's documented `approx_count_distinct` swap-in), made
  * FIRST-CLASS and cross-engine-exact: a HyperLogLog (Flajolet et al.
  * 2007, public) built from md5-derived registers so the DuckDB oracle
  * replays the SKETCH ITSELF bit-for-bit — the q124/q103 harness
  * discipline (the judge of the approximation is not itself approximate)
  * applied to cardinality.
  *
  * Why not `approx_count_distinct`? Its HLL++ registers live inside an
  * opaque Spark aggregation buffer DuckDB cannot replay, so a query
  * using it gets the driver's weaker rows-only check. This sketch keeps
  * the identical algebra (register max-merge, harmonic estimate) in
  * plain integer SQL both engines evaluate exactly:
  *
  *  - register index = first 32 md5 bits mod [[M]]; rank = leading-zero
  *    count of the NEXT 32 bits + 1, via `33 − length(bin(tail))` —
  *    `bin()` exists in both engines and its length IS the MSB position,
  *    so no log() and no bit loop.
  *  - the harmonic denominator Σ 2^−maxrank is scaled by 2³³: every term
  *    becomes the exact BIGINT `1 << (33 − maxrank)` and the sum is
  *    order-independent integer arithmetic (a float Σ 2^−r would round
  *    on alignment). Empty registers contribute 2³³ (rank 0).
  *  - the estimate α·m²·2³³ / z_scaled folds its whole numerator into
  *    ONE Scala-computed double literal ([[EST_NUM]], shortest-repr
  *    round-trip in both parsers), leaving a single exactly-rounded
  *    division at runtime.
  *
  * The output reports, per source and for the register-wise MERGE of all
  * sources ("ALL"), the sketch (n_regs, z_scaled), the estimate, the
  * exact distinct count, and the absolute error — the measured-accuracy
  * harness for the sketch family.
  *
  * 100 TB shape: ONE corpus scan to doc grain; the register table is
  * (sources+1)·[[M]] rows — dimension-sized; `groupBy(source, reg).max`
  * is map-side-combining, so each executor ships at most m rows per
  * source regardless of corpus size (this partial-merge property IS the
  * reason HLL is the standard distributed cardinality sketch — the
  * sketch is the mergeable artifact, and the "ALL" row is that merge
  * performed in SQL). Exact distinct costs one md5-keyed exchange here
  * (it is the harness's ground truth); a production deploy drops it and
  * ships registers alone. m=64 (σ ≈ 1.04/√64 ≈ 13%) keeps the fixture
  * corpus (~476 distinct) above the 2.5·m small-range-correction cutoff,
  * so the raw-regime estimator — the one that matters at scale — is the
  * one under test; deploys raise m (p bits) for accuracy, same algebra.
  */
object Sketch {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** Register count m = 2^6 and the paper's bias constant α₆₄ = 0.709. */
  val M = 64
  val ALPHA = 0.709

  /** The folded estimate numerator α·m²·2³³ — computed once here, pasted
    * as the SAME shortest-repr literal into both engines. */
  val EST_NUM: Double = ALPHA * (M.toDouble * M.toDouble) * 8589934592.0

  private val SALT = "hll"

  /** q128: per-source + merged HLL cardinality sketch vs exact distinct. */
  def hllHarness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = md5(concat(lit(SALT), $"text"))
    val base = graft.Caches.track(s"sketch.hllBase:$dir",
      docs(spark, dir)
        .select($"source", h.as("h"))
        .withColumn("reg",
          pmod(conv(substring($"h", 1, 8), 16, 10).cast("long"), lit(M.toLong)))
        .withColumn("tail", conv(substring($"h", 9, 8), 16, 10).cast("long"))
        .withColumn("r",
          when($"tail" === 0L, lit(33L))
            .otherwise(lit(33L) - length(bin($"tail")).cast("long")))
        .select($"source", $"h", $"reg", $"r"))
    val regs = base.groupBy($"source", $"reg")
      .agg(max($"r").as("maxr"))
    val merged = regs.groupBy($"reg")
      .agg(max($"maxr").as("maxr"))
      .select(lit("ALL").as("source"), $"reg", $"maxr")
    val exacts = base.groupBy($"source")
      .agg(countDistinct($"h").as("n_exact"))
      .union(base.agg(countDistinct($"h").as("n_exact"))
        .select(lit("ALL").as("source"), $"n_exact"))
    val sk = regs.union(merged)
      .groupBy($"source")
      .agg(count(lit(1)).cast("long").as("n_regs"),
        sum(expr("shiftleft(1L, cast(33 - maxr as int))")).as("z_present"))
      .withColumn("z_scaled",
        $"z_present" + (lit(M.toLong) - $"n_regs") * lit(8589934592L))
      .withColumn("est", lit(EST_NUM) / $"z_scaled".cast("double"))
    sk.join(exacts, "source")
      .withColumn("abs_err", abs($"est" - $"n_exact".cast("double")))
      .select($"source", $"n_exact", $"n_regs", $"z_scaled", $"est", $"abs_err")
      .orderBy($"source")
  }

  private val hllOracle = {
    val reg1 = Dx.sqlHex2Long("h", 8)
    val tail = Dx.sqlHex2Long("h2", 8)
    s"""WITH base AS (
       |  SELECT source, md5('$SALT' || text) AS h,
       |         substr(md5('$SALT' || text), 9, 8) AS h2
       |  FROM documents
       |), keyed AS (
       |  SELECT source, h,
       |         CAST($reg1 % $M AS BIGINT) AS reg,
       |         CAST(CASE WHEN $tail = 0 THEN 33
       |                   ELSE 33 - length(bin($tail)) END AS BIGINT) AS r
       |  FROM base
       |), regs AS (
       |  SELECT source, reg, MAX(r) AS maxr FROM keyed GROUP BY 1, 2
       |), allregs AS (
       |  SELECT * FROM regs
       |  UNION ALL
       |  SELECT 'ALL' AS source, reg, MAX(maxr) AS maxr FROM regs GROUP BY reg
       |), exacts AS (
       |  SELECT source, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_exact
       |  FROM base GROUP BY 1
       |  UNION ALL
       |  SELECT 'ALL', CAST(COUNT(DISTINCT h) AS BIGINT) FROM base
       |), sk AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_regs,
       |         CAST(SUM(CAST(1 AS BIGINT)
       |                  << CAST(33 - maxr AS INTEGER)) AS BIGINT) AS z_present
       |  FROM allregs GROUP BY 1
       |)
       |SELECT sk.source, n_exact, n_regs,
       |       z_present + ($M - n_regs) * 8589934592 AS z_scaled,
       |       $EST_NUM / CAST(z_present + ($M - n_regs) * 8589934592 AS DOUBLE)
       |         AS est,
       |       abs($EST_NUM / CAST(z_present + ($M - n_regs) * 8589934592
       |                           AS DOUBLE)
       |           - CAST(n_exact AS DOUBLE)) AS abs_err
       |FROM sk JOIN exacts ON sk.source = exacts.source
       |ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q134

  /** (reg, maxr) HLL registers of a (text) frame — the [[hllHarness]]
    * register derivation factored for the increment path. */
  private def hllRegs(df: DataFrame): DataFrame = {
    val h = md5(concat(lit(SALT), col("text")))
    df.select(h.as("h"))
      .withColumn("reg",
        pmod(conv(substring(col("h"), 1, 8), 16, 10).cast("long"), lit(M.toLong)))
      .withColumn("tail", conv(substring(col("h"), 9, 8), 16, 10).cast("long"))
      .withColumn("r",
        when(col("tail") === 0L, lit(33L))
          .otherwise(lit(33L) - length(bin(col("tail"))).cast("long")))
      .groupBy(col("reg")).agg(max(col("r")).as("maxr"))
  }

  /** Estimate columns from a (reg, maxr) register frame (1 row out). */
  private def hllEstimate(regs: DataFrame): DataFrame =
    regs
      .agg(count(lit(1)).cast("long").as("n_regs"),
        sum(expr("shiftleft(1L, cast(33 - maxr as int))")).as("z_present"))
      .withColumn("z_scaled",
        col("z_present") + (lit(M.toLong) - col("n_regs")) * lit(8589934592L))
      .withColumn("est", lit(EST_NUM) / col("z_scaled").cast("double"))
      .select(col("n_regs"), col("z_scaled"), col("est"))

  private val liveSkDir = new graft.LiveDirSlot("graft_q134_sketch")

  /** q134: T1 for the cardinality sketch — the register table IS the
    * mergeable artifact HLL exists for, so incremental maintenance is:
    * store the corpus-prefix registers (64 rows — the whole persisted
    * state), derive registers for the arriving batch from ONE batch
    * scan, and max-merge. The served estimate is bit-identical to the
    * full-corpus scan path ([[hllHarness]]'s "ALL" row) because register
    * max-merge is associative and commutative — the property that makes
    * HLL the standard distributed/incremental cardinality sketch, here
    * proven by the oracle replaying the FULL-corpus path against the
    * stored+batch merge.
    *
    * 100 TB shape: increment cost is batch-sized (one scan, map-side
    * register combine ships ≤ m rows per executor); stored state is m
    * rows regardless of corpus size; the corpus is never rescanned. */
  def hllIncrement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = docs(spark, dir)
    val cut = corpus.agg(expr("max(doc_id) * 4 div 5")).head().getLong(0)
    val sk = liveSkDir.next()
    hllRegs(corpus.filter($"doc_id" < cut)).write
      .mode("overwrite").parquet(s"$sk/q134_registers")
    val batchRegs = hllRegs(corpus.filter($"doc_id" >= cut))
    val merged = spark.read.parquet(s"$sk/q134_registers")
      .union(batchRegs)
      .groupBy($"reg").agg(max($"maxr").as("maxr"))
    hllEstimate(merged)
  }

  private val hllIncrementOracle = {
    val reg1 = Dx.sqlHex2Long("h", 8)
    val tail = Dx.sqlHex2Long("h2", 8)
    s"""WITH base AS (
       |  SELECT md5('$SALT' || text) AS h,
       |         substr(md5('$SALT' || text), 9, 8) AS h2
       |  FROM documents
       |), keyed AS (
       |  SELECT CAST($reg1 % $M AS BIGINT) AS reg,
       |         CAST(CASE WHEN $tail = 0 THEN 33
       |                   ELSE 33 - length(bin($tail)) END AS BIGINT) AS r
       |  FROM base
       |), regs AS (
       |  SELECT reg, MAX(r) AS maxr FROM keyed GROUP BY 1
       |)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_regs,
       |       CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - maxr AS INTEGER))
       |            AS BIGINT)
       |         + ($M - COUNT(*)) * 8589934592 AS z_scaled,
       |       $EST_NUM / CAST(SUM(CAST(1 AS BIGINT)
       |                           << CAST(33 - maxr AS INTEGER))
       |                       + ($M - COUNT(*)) * 8589934592 AS DOUBLE) AS est
       |FROM regs""".stripMargin
  }

  // ---------------------------------------------------------------- q131

  /** Count-min geometry: [[CMS_D]] independent md5-salted hash rows ×
    * [[CMS_W]] counters, and the top-[[CMS_TOPK]] exact terms the
    * harness evaluates the sketch against. w=64 keeps collisions FREQUENT
    * at fixture vocabulary (~2.7k terms into 64 buckets) so the measured
    * overestimates are non-trivial; deploys size w ≈ e/ε for an ε·N
    * error bound, same algebra. */
  val CMS_D = 4
  val CMS_W = 64
  val CMS_TOPK = 20

  private val CMS_SALTS = (0 until CMS_D).map(r => s"cms$r")

  /** q131: count-min sketch (Cormode & Muthukrishnan 2005, public)
    * frequency estimation vs exact counts — the heavy-hitter estimator a
    * 100 TB pipeline runs where the full term aggregate stops being
    * affordable, kept cross-engine-exact like [[hllHarness]]: bucket
    * index r is the shared md5 [[Tables]] hash-key device (`hashKey
    * (salt_r, term) mod w`), counters are plain integer sums, and the
    * estimate is the MIN over the d row counters — every number in the
    * artifact is exact integer arithmetic both engines replay, so the
    * APPROXIMATION ITSELF is oracle-pinned (the q124/q128 discipline).
    *
    * The output evaluates the sketch on the top-[[CMS_TOPK]] exact terms:
    * exact count, CMS estimate, and the overestimate `est − exact` —
    * which the CMS construction guarantees ≥ 0 (counters only ever add
    * colliding mass), an invariant the spec pins. `n_total` (the ε·N
    * error-bound denominator) rides along as context.
    *
    * 100 TB shape: ONE corpus scan → vocab-grain hash agg (map-side
    * combining); the counter table is d·w rows REGARDLESS of corpus size
    * and — like the HLL registers — linear: per-shard counter tables sum
    * to the global sketch, which is why CMS is the standard distributed
    * frequency sketch. The estimate join touches top-K·d rows. A deploy
    * drops the exact side and ships counters alone. */
  def cmsHarness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tc = graft.Caches.track(s"sketch.cmsTermCounts:$dir",
      docs(spark, dir)
        .select(explode(split($"text", " ")).as("term"))
        .groupBy($"term")
        .agg(count(lit(1)).cast("long").as("c")))
    val bucketStructs = CMS_SALTS.zipWithIndex.map { case (salt, r) =>
      struct(lit(r.toLong).as("r"),
        pmod(Dx.hashKey(salt, $"term"), lit(CMS_W.toLong)).as("bucket"))
    }
    val keyed = tc.select($"term", $"c",
      explode(array(bucketStructs: _*)).as("rb"))
      .select($"term", $"c", $"rb.r", $"rb.bucket")
    val counters = keyed.groupBy($"r", $"bucket")
      .agg(sum($"c").as("cnt"))
    val nTotal = tc.agg(sum($"c").cast("long").as("n_total"))
    val top = tc
      .withColumn("trnk", row_number().over(
        Window.orderBy($"c".desc, $"term".asc)))
      .filter($"trnk" <= CMS_TOPK)
    top.select($"term", $"c", explode(array(bucketStructs: _*)).as("rb"))
      .select($"term", $"c", $"rb.r", $"rb.bucket")
      .join(broadcast(counters), Seq("r", "bucket"))
      .groupBy($"term", $"c")
      .agg(min($"cnt").cast("long").as("est"))
      .crossJoin(broadcast(nTotal))
      .select($"term", $"c".as("c_exact"), $"est",
        ($"est" - $"c").as("over_err"), $"n_total")
      .orderBy($"c_exact".desc, $"term".asc)
  }

  private val cmsOracle = {
    val buckets = CMS_SALTS.zipWithIndex.map { case (salt, r) =>
      val h = s"md5('$salt' || term)"
      s"SELECT term, c, $r AS r, " +
        s"CAST(${Dx.sqlHex2Long(h, 8)} % $CMS_W AS BIGINT) " +
        "AS bucket FROM tc"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH tc AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  GROUP BY 1
       |), keyed AS (
       |  $buckets
       |), counters AS (
       |  SELECT r, bucket, SUM(c) AS cnt FROM keyed GROUP BY 1, 2
       |), top AS (
       |  SELECT term, c FROM (
       |    SELECT term, c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS trnk
       |    FROM tc)
       |  WHERE trnk <= $CMS_TOPK
       |), est AS (
       |  SELECT k.term, k.c, CAST(MIN(cnt) AS BIGINT) AS est
       |  FROM keyed k JOIN top t ON k.term = t.term
       |       JOIN counters co ON co.r = k.r AND co.bucket = k.bucket
       |  GROUP BY 1, 2
       |)
       |SELECT term, c AS c_exact, est, est - c AS over_err,
       |       (SELECT CAST(SUM(c) AS BIGINT) FROM tc) AS n_total
       |FROM est ORDER BY c_exact DESC, term""".stripMargin
  }

  // ---------------------------------------------------------------- q133

  /** Sample keep threshold: rate 1/4 on the md5 32-bit grid (exact:
    * 2³⁰ of 2³²) with the [[Dx.hashKey]] salt below. */
  val QSK_SALT = "qtl"
  val QSK_THRESHOLD = 1073741824L

  /** q133: sampled-quantile estimation harness — the third leg of the
    * sketch family (q128 cardinality, q131 frequency, this one rank
    * statistics): per-language type-7 length quantiles computed on a
    * DETERMINISTIC md5-threshold 25% sample (the q65 membership device —
    * a pure function of doc_id, so the "random" sample is replayable in
    * both engines bit-for-bit) joined against the exact full-corpus
    * quantiles (q69's pinned rank arithmetic), with per-probe absolute
    * error and both population sizes. This is the measured-accuracy
    * stand-in for KLL/t-digest, whose merge paths are not cross-engine
    * replayable: at 100 TB the ESTIMATE path is what runs (sort windows
    * over a 4× — or far deeper — reduced sample), and this harness is
    * the evidence for how much error that buys at a given rate.
    *
    * 100 TB shape: ONE corpus scan projects (lang, n_chars, keep); the
    * tiny 3-column frame persists so the exact and sampled subtrees
    * share it; both quantile paths are per-lang sort windows (stratum-
    * keyed exchanges, never global); deploys drop the exact leg and run
    * the sample leg alone — cost scales with the sample, and the rate
    * knob trades error for depth with the measured curve here. */
  def sampledQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = graft.Caches.track(s"sketch.quantileBase:$dir",
      docs(spark, dir)
        .select($"lang", $"n_chars",
          (Dx.hashKey(QSK_SALT, $"doc_id") < QSK_THRESHOLD).as("keep")))
    def t7(src: DataFrame, out: String, nOut: String): DataFrame =
      Sampling.interpolatedQuantiles(src, out, max($"n").cast("long").as(nOut))
    val exact = t7(base.select($"lang", $"n_chars"), "q_exact", "n_full")
    val est = t7(base.filter($"keep").select($"lang", $"n_chars"),
      "q_est", "n_samp")
    exact.join(est, Seq("lang", "p"), "left_outer")
      .withColumn("abs_err", abs($"q_est" - $"q_exact"))
      .select($"lang", $"p", $"q_exact", $"q_est", $"abs_err",
        $"n_full", $"n_samp")
      .orderBy($"lang", $"p")
  }

  private val sampledQuantilesOracle = {
    val plist = Sampling.QUANTILES.map(p => s"CAST($p AS DOUBLE)").mkString(", ")
    val key = Dx.sqlHex2Long("md5('" + QSK_SALT + "' || CAST(doc_id AS VARCHAR))", 8)
    def t7(src: String, out: String, nOut: String) =
      s"""SELECT lang, p,
         |  CAST(MIN(CASE WHEN rn = lo + 1 THEN n_chars END) AS DOUBLE)
         |    + (MAX(CASE WHEN rn = hi + 1 THEN n_chars END)
         |       - MIN(CASE WHEN rn = lo + 1 THEN n_chars END))
         |      * (MAX(h) - MAX(lo)) AS $out,
         |  CAST(MAX(n) AS BIGINT) AS $nOut
         |FROM (
         |  SELECT v.lang, p.p, v.n_chars, v.rn, v.n,
         |         CAST(floor((v.n - 1) * p.p) AS BIGINT) AS lo,
         |         CAST(ceil((v.n - 1) * p.p) AS BIGINT) AS hi,
         |         (v.n - 1) * p.p AS h
         |  FROM $src v, p
         |  WHERE v.rn = CAST(floor((v.n - 1) * p.p) AS BIGINT) + 1
         |     OR v.rn = CAST(ceil((v.n - 1) * p.p) AS BIGINT) + 1
         |) GROUP BY 1, 2""".stripMargin
    s"""WITH base AS (
       |  SELECT lang, n_chars, $key < $QSK_THRESHOLD AS keep
       |  FROM documents
       |), p AS (SELECT unnest([$plist]) AS p),
       |vf AS (
       |  SELECT lang, n_chars,
       |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
       |         COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM base
       |), vs AS (
       |  SELECT lang, n_chars,
       |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
       |         COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM base WHERE keep
       |), ex AS (
       |  ${t7("vf", "q_exact", "n_full")}
       |), es AS (
       |  ${t7("vs", "q_est", "n_samp")}
       |)
       |SELECT ex.lang, ex.p, q_exact, q_est, abs(q_est - q_exact) AS abs_err,
       |       n_full, n_samp
       |FROM ex LEFT JOIN es ON ex.lang = es.lang AND ex.p = es.p
       |ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- q136

  /** Bottom-k signature size and the 8-gram shingle grain (the span
    * family's [[graft.ops.TextPipeline.SPAN_K]] discipline). */
  val KMV_K = 256
  val KMV_GRAM_K = 8
  private val KMV_SALT = "kmv"

  /** The folded KMV estimate numerator (k−1)·2⁶⁰ — one Scala-computed
    * double literal pasted into both engines (the [[EST_NUM]] device);
    * the denominator is the k-th smallest key's top 60 bits as an exact
    * BIGINT, so the estimate is ONE exactly-rounded division. */
  val KMV_NUM: Double = (KMV_K - 1).toDouble * 1152921504606846976.0d

  /** q136: cross-source 8-gram overlap estimated from BOTTOM-K (KMV)
    * distinct sketches — the SET-OPERATIONS leg of the sketch family
    * (q128 cardinality, q131 frequency, q133 rank statistics, this one
    * union/intersection): "how much gram content does source A share
    * with source B" is the contamination/boilerplate question a mix
    * owner asks BEFORE q129's distribution drift, and answering it
    * exactly needs the cross-source gram join this sketch exists to
    * avoid. KMV (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07 —
    * public) rather than HLL inclusion–exclusion because I–E error is
    * additive in |A∪B| (pure noise at these overlap sizes, at any
    * practical m), while the bottom-k union sketch estimates the
    * JACCARD of the pair directly from signature intersection:
    *
    *  - per source: the K smallest md5(gram) keys. If a source has
    *    fewer than K distinct grams the sketch IS the set and every
    *    estimate below is exact (saturation — pinned by spec).
    *  - union sketch for (A,B) = bottom-K of sig_A ∪ sig_B: bottom-k is
    *    UNION-MERGEABLE by construction (min-wise order is global), the
    *    property that makes it a distributed sketch — merging
    *    signatures, never sets.
    *  - any union-sketch member that lies in BOTH signatures is in
    *    A∩B, and every A∩B member inside the union's bottom-K is in
    *    both signatures (rank_A(x) ≤ rank_U(x) ≤ K) — so
    *    J ≈ n_match/k_eff with NO additional hashing assumption.
    *  - |A∪B| ≈ (K−1)·2⁶⁰/u where u = the K-th smallest key's top 60
    *    bits (15 hex chars — exact BIGINT in both engines);
    *    overlap ≈ J·|A∪B|. Every float step is an exactly-rounded
    *    op on identically-rounded operands (the q124/q128 discipline),
    *    so the DuckDB oracle replays the SKETCH bit-for-bit, and the
    *    harness reports exact per-source and per-pair ground truth with
    *    absolute error alongside.
    *
    * 100 TB shape: ONE documents scan (budget-pinned: the distinct
    * (source, gram-key) frame persists and feeds signatures, ground
    * truth, and the source list); the signature table is ≤ sources·K
    * rows — dimension-sized — and everything pairwise operates on
    * SIGNATURES (the pair stage never touches corpus-sized data; the
    * source-pair cross is dims-only). The exact legs are harness ground
    * truth — a deploy ships signatures alone and drops both. */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sets = graft.Caches.track(s"sketch.kmvSets:$dir",
      docs(spark, dir)
        .select($"source", split($"text", " ").as("ws"))
        .filter(size($"ws") >= KMV_GRAM_K)
        .select($"source", explode(expr(
          s"transform(sequence(0, size(ws) - $KMV_GRAM_K), i -> " +
            s"md5(concat('$KMV_SALT', " +
            s"concat_ws(' ', slice(ws, i + 1, $KMV_GRAM_K)))))")).as("k"))
        .distinct())
    val sig = graft.Caches.track(s"sketch.kmvSig:$dir",
      sets
        .withColumn("rn", row_number().over(
          Window.partitionBy($"source").orderBy($"k")))
        .filter($"rn" <= KMV_K)
        .select($"source", $"k"))
    val perSrc = sig.groupBy($"source")
      .agg(count(lit(1)).as("n_sig"), max($"k").as("kth"))
      .join(sets.groupBy($"source").agg(count(lit(1)).as("n_exact")),
        Seq("source"))
      .withColumn("u", conv(substring($"kth", 1, 15), 16, 10).cast("long"))
      .withColumn("est",
        when($"n_sig" < KMV_K, $"n_sig".cast("double"))
          .otherwise(lit(KMV_NUM) / $"u".cast("double")))
      .select($"source", $"n_exact", $"est")
    val srcs = sets.select($"source").distinct()
    val pairs = srcs.select($"source".as("src_a"))
      .crossJoin(srcs.select($"source".as("src_b")))
      .filter($"src_a" < $"src_b")
    val uni = pairs
      .join(sig.select($"source".as("src_a"), $"k"), Seq("src_a"))
      .select($"src_a", $"src_b", $"k",
        lit(1).as("ia"), lit(0).as("ib"))
      .union(pairs
        .join(sig.select($"source".as("src_b"), $"k"), Seq("src_b"))
        .select($"src_a", $"src_b", $"k", lit(0).as("ia"), lit(1).as("ib")))
      .groupBy($"src_a", $"src_b", $"k")
      .agg(max($"ia").as("ia"), max($"ib").as("ib"))
    val pairAgg = uni
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src_a", $"src_b").orderBy($"k")))
      .filter($"rn" <= KMV_K)
      .groupBy($"src_a", $"src_b")
      .agg(count(lit(1)).as("k_eff"),
        sum(($"ia" * $"ib").cast("long")).as("n_match"),
        max($"k").as("kthu"))
      .withColumn("uu", conv(substring($"kthu", 1, 15), 16, 10).cast("long"))
      .withColumn("est_union",
        when($"k_eff" < KMV_K, $"k_eff".cast("double"))
          .otherwise(lit(KMV_NUM) / $"uu".cast("double")))
    // exact ground-truth overlap: GROUP-BY-GRAM + in-group pairing
    // (guide §3 — a self-join of the persisted gram frame on `k`
    // shuffles it TWICE; grouping shuffles it ONCE and
    // pairs sources inside each gram's row). Per gram the sorted source
    // list is dimension-bounded (≤ |sources|), so the pair expansion is
    // in-memory and emits exactly the self-join's (src_a < src_b) rows:
    // each source holds a gram at most once (`sets` is distinct), so
    // counting pairs per (a, b) is the intersection size unchanged.
    val exOv = sets.groupBy($"k")
      .agg(sort_array(collect_list($"source")).as("srcs"))
      .filter(size($"srcs") >= 2)
      .select(explode(expr(
        "flatten(transform(srcs, (a, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs) - i - 1), b -> " +
          "struct(a AS src_a, b AS src_b))))")).as("p"))
      .groupBy($"p.src_a".as("src_a"), $"p.src_b".as("src_b"))
      .agg(count(lit(1)).as("n_exact_overlap"))
    pairAgg
      .join(perSrc.select($"source".as("src_a"),
        $"n_exact".as("n_a"), $"est".as("est_a")), Seq("src_a"))
      .join(perSrc.select($"source".as("src_b"),
        $"n_exact".as("n_b"), $"est".as("est_b")), Seq("src_b"))
      .join(exOv, Seq("src_a", "src_b"), "left")
      .withColumn("n_exact_overlap", coalesce($"n_exact_overlap", lit(0L)))
      .withColumn("est_overlap",
        ($"n_match".cast("double") / $"k_eff".cast("double")) * $"est_union")
      .withColumn("abs_err",
        abs($"est_overlap" - $"n_exact_overlap".cast("double")))
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"est_a", $"est_b",
        $"k_eff", $"n_match", $"est_union", $"est_overlap",
        $"n_exact_overlap", $"abs_err")
  }

  private val kmvOracle = {
    val u = Dx.sqlHex2Long("kth", 15)
    val uu = Dx.sqlHex2Long("kthu", 15)
    s"""WITH t AS (
       |  SELECT source, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= $KMV_GRAM_K),
       |sets AS (
       |  SELECT DISTINCT source,
       |         md5('$KMV_SALT' ||
       |             array_to_string(ws[i+1:i+$KMV_GRAM_K], ' ')) AS k
       |  FROM (SELECT source, ws,
       |               unnest(range(0, len(ws) - ${KMV_GRAM_K - 1})) AS i
       |        FROM t)),
       |sig AS (
       |  SELECT source, k FROM (
       |    SELECT source, k,
       |           ROW_NUMBER() OVER (PARTITION BY source ORDER BY k) AS rn
       |    FROM sets)
       |  WHERE rn <= $KMV_K),
       |persrc AS (
       |  SELECT e.source, e.n_exact,
       |         CASE WHEN g.n_sig < $KMV_K THEN CAST(g.n_sig AS DOUBLE)
       |              ELSE $KMV_NUM / CAST($u AS DOUBLE) END AS est
       |  FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
       |        FROM sets GROUP BY 1) e
       |  JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sig,
       |               MAX(k) AS kth
       |        FROM sig GROUP BY 1) g ON e.source = g.source),
       |srcs AS (SELECT DISTINCT source FROM sets),
       |pairs AS (SELECT a.source AS src_a, b.source AS src_b
       |          FROM srcs a, srcs b WHERE a.source < b.source),
       |uni AS (
       |  SELECT src_a, src_b, k, MAX(ia) AS ia, MAX(ib) AS ib FROM (
       |    SELECT p.src_a, p.src_b, s.k, 1 AS ia, 0 AS ib
       |    FROM pairs p JOIN sig s ON s.source = p.src_a
       |    UNION ALL
       |    SELECT p.src_a, p.src_b, s.k, 0, 1
       |    FROM pairs p JOIN sig s ON s.source = p.src_b)
       |  GROUP BY 1, 2, 3),
       |pagg AS (
       |  SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS k_eff,
       |         CAST(SUM(ia * ib) AS BIGINT) AS n_match,
       |         MAX(k) AS kthu
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b
       |                                     ORDER BY k) AS rn
       |        FROM uni)
       |  WHERE rn <= $KMV_K GROUP BY 1, 2),
       |pest AS (
       |  SELECT src_a, src_b, k_eff, n_match,
       |         CASE WHEN k_eff < $KMV_K THEN CAST(k_eff AS DOUBLE)
       |              ELSE $KMV_NUM / CAST($uu AS DOUBLE) END AS est_union
       |  FROM pagg),
       |ex AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |         CAST(COUNT(*) AS BIGINT) AS n_exact_overlap
       |  FROM sets a JOIN sets b ON a.k = b.k AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT p.src_a, p.src_b,
       |       pa.n_exact AS n_a, pb.n_exact AS n_b,
       |       pa.est AS est_a, pb.est AS est_b,
       |       k_eff, n_match, est_union,
       |       (CAST(n_match AS DOUBLE) / CAST(k_eff AS DOUBLE)) * est_union
       |         AS est_overlap,
       |       COALESCE(ex.n_exact_overlap, 0) AS n_exact_overlap,
       |       abs((CAST(n_match AS DOUBLE) / CAST(k_eff AS DOUBLE))
       |             * est_union
       |           - CAST(COALESCE(ex.n_exact_overlap, 0) AS DOUBLE))
       |         AS abs_err
       |FROM pest p
       |JOIN persrc pa ON pa.source = p.src_a
       |JOIN persrc pb ON pb.source = p.src_b
       |LEFT JOIN ex ON ex.src_a = p.src_a AND ex.src_b = p.src_b
       |ORDER BY p.src_a, p.src_b""".stripMargin
  }

  // ----------------------------------------------------------------

  val all: Seq[Query] = Seq(
    Query("q128_hll_cardinality",
      "cross-engine-exact HyperLogLog: per-source + register-merged distinct-text estimates vs exact, integer-scaled harmonic sum",
      hllHarness, Some(hllOracle), headline = false),
    Query("q131_cms_frequency",
      "count-min sketch frequency estimates vs exact counts for the top-20 terms: d=4 md5 rows x w=64 integer counters, overestimate invariant",
      cmsHarness, Some(cmsOracle), headline = false),
    Query("q133_sampled_quantiles",
      "deterministic 25% md5-sample type-7 quantiles vs the exact full-corpus quantiles per language, with absolute error",
      sampledQuantiles, Some(sampledQuantilesOracle), headline = false),
    Query("q134_hll_increment",
      "maintain->serve for the cardinality sketch: stored 64-row registers + one batch scan, max-merge == the full-corpus path",
      hllIncrement, Some(hllIncrementOracle), headline = false),
    Query("q136_kmv_overlap",
      "cross-source gram overlap from bottom-256 KMV sketches: union-merged signatures, Jaccard from signature intersection, vs exact",
      (s, d) => kmvOverlap(s, d).orderBy("src_a", "src_b"),
      Some(kmvOracle), headline = false,
      benchFn = Some(kmvOverlap)))
}
