package graft.ops

import graft.{Dx, Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-cleaning passes over `documents`: PII redaction (emails, phone
  * numbers, IPv4 addresses) and benchmark DECONTAMINATION (n-gram overlap
  * screening of training docs against an eval set) — the two scrubs every
  * public-web training corpus runs before anything else sees the text.
  * Not in the reference; first-class curation surface per the builder
  * brief.
  *
  * Regex discipline: Spark compiles java.util.regex, DuckDB compiles RE2
  * — the patterns below stay inside the dialect intersection (character
  * classes, bounded repetition; NO lookaround, NO \d shorthands) so both
  * engines match identical spans and the oracle compares the scrubbed
  * TEXT byte-for-byte, not just the counts. The synthetic corpus is
  * PII-free (the oracle proves zero redactions and text identity);
  * planted-PII semantics are pinned by ScrubSpec.
  *
  * 100 TB design: pure per-row projection — regex evaluation inside
  * whole-stage codegen, no shuffle, no state; counts are computed on the
  * ORIGINAL text before any replacement, so evidence and redaction can't
  * disagree. */
object Scrub {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** Dialect-intersection patterns (java.util.regex ∩ RE2). The phone
    * class deliberately EXCLUDES '.' so a dotted quad ("192.168.254.3")
    * can never phone-match ahead of the IP pass — dot-separated phone
    * styles are traded for count/redaction consistency. */
  val EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PHONE_RE = "\\+?[0-9][0-9 ()/-]{7,}[0-9]"
  val IPV4_RE = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  // ---------------------------------------------------------------- q72

  /** Redact emails → phones → IPv4 (fixed order, so overlapping spans
    * resolve identically everywhere) and report per-doc match counts and
    * a `pii_free` verdict. Each count is taken on the text AS THAT PASS
    * SEES IT (phones counted after email redaction, IPs after phone
    * redaction), so a digit run inside an already-redacted email can
    * never inflate n_phones — the evidence columns report exactly the
    * replacements their pass performed. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .withColumn("t1", regexp_replace($"text", EMAIL_RE, "<EMAIL>"))
      .withColumn("t2", regexp_replace($"t1", PHONE_RE, "<PHONE>"))
      .select($"doc_id",
        regexp_replace($"t2", IPV4_RE, "<IP>").as("text_clean"),
        regexp_count($"text", lit(EMAIL_RE)).cast("long").as("n_emails"),
        regexp_count($"t1", lit(PHONE_RE)).cast("long").as("n_phones"),
        regexp_count($"t2", lit(IPV4_RE)).cast("long").as("n_ips"))
      .withColumn("pii_free",
        $"n_emails" + $"n_phones" + $"n_ips" === 0)
  }

  private val piiScrubOracle =
    s"""WITH p AS (
       |  SELECT doc_id, text,
       |         regexp_replace(text, '$EMAIL_RE', '<EMAIL>', 'g') AS t1
       |  FROM documents
       |), q AS (
       |  SELECT *, regexp_replace(t1, '$PHONE_RE', '<PHONE>', 'g') AS t2
       |  FROM p)
       |SELECT doc_id,
       |  regexp_replace(t2, '$IPV4_RE', '<IP>', 'g') AS text_clean,
       |  CAST(len(regexp_extract_all(text, '$EMAIL_RE')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t1, '$PHONE_RE')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(t2, '$IPV4_RE')) AS BIGINT) AS n_ips,
       |  (len(regexp_extract_all(text, '$EMAIL_RE'))
       |   + len(regexp_extract_all(t1, '$PHONE_RE'))
       |   + len(regexp_extract_all(t2, '$IPV4_RE'))) = 0 AS pii_free
       |FROM q ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q75

  /** Salt carving the held-out eval set out of the corpus (the testdata
    * ships no separate benchmark table; a production run reads its eval
    * suites from their own store and skips the carve). */
  val EVAL_SALT = "graft-eval:"

  /** ~5% of docs are "eval": first 8 md5 hex chars under 0.05·2³². */
  val EVAL_THRESHOLD: Long = (0.05 * (1L << 32)).toLong

  /** 1 when the salted-hash carve puts the doc in the held-out eval
    * set, else 0. */
  private def evalTag: Column =
    (Dx.hashKey(EVAL_SALT, col("doc_id")) < EVAL_THRESHOLD).cast("int")

  /** Document shingles (doc_id, sh) with their doc's `is_eval`. */
  private def evalTaggedShingles(spark: SparkSession, dir: String): DataFrame =
    TextPipeline.shingles(spark, dir).withColumn("is_eval", evalTag)

  /** The decontamination verdict: every training doc with its
    * `n_eval_hits` from `hits` (doc_id, n_eval_hits), 0 and `clean` when
    * it has none. */
  private def evalVerdict(spark: SparkSession, dir: String,
      hits: DataFrame): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .withColumn("is_eval", evalTag)
      .filter($"is_eval" === 0)
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"lang", $"source",
        coalesce($"n_eval_hits", lit(0L)).as("n_eval_hits"),
        ($"n_eval_hits".isNull).as("clean"))
  }

  /** Benchmark decontamination: a TRAINING document is contaminated if it
    * shares ≥1 3-token shingle with any EVAL document — the n-gram
    * overlap screen run before shipping training data, so eval answers
    * never leak into the training set. Emits every training doc with its
    * eval-shingle hit count and a `clean` verdict (docs too short to
    * shingle are clean by construction).
    *
    * Shape: ONE text scan feeds the shingle stream; because eval
    * membership is a pure function of doc_id, the tag is COMPUTED on the
    * postings (no docs⋈shingles join, no second text scan); a
    * per-shingle window (`max(is_eval)`) marks shingles any eval doc
    * posted — the same one-shuffle df device as
    * [[TextPipeline.shingleNearDup]] — and training postings falling on
    * marked shingles aggregate per doc. The only other scan is the
    * column-pruned (id, lang, source) metadata read for the verdict
    * frame. At 100 TB with a REAL (small) benchmark suite, the cheaper
    * deploy shape is broadcasting the eval shingle set into a semi-join
    * probe; the window form is what carves eval from the same table
    * without re-reading text. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = evalTaggedShingles(spark, dir)
    val hits = sh
      .withColumn("has_eval",
        max($"is_eval").over(Window.partitionBy($"sh")))
      .filter($"is_eval" === 0 && $"has_eval" === 1)
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_eval_hits"))
    evalVerdict(spark, dir, hits)
  }

  /** Oracle CTEs `tagged` (`cols` plus is_eval, the salted-hash eval
    * tag), `t` and `s` (doc_id, is_eval, sh): each doc's distinct 3-token
    * shingles. */
  private def evalShingleCtes(cols: String): String = {
    val key = Dx.sqlHex2Long(
      s"md5('$EVAL_SALT' || CAST(doc_id AS VARCHAR))", 8)
    s"""tagged AS (
       |  SELECT $cols,
       |         CASE WHEN $key < $EVAL_THRESHOLD THEN 1 ELSE 0 END AS is_eval
       |  FROM documents
       |), t AS (SELECT doc_id, is_eval, string_split(text, ' ') AS ws
       |         FROM tagged),
       |s AS (SELECT DISTINCT doc_id, is_eval, sh FROM (
       |        SELECT doc_id, is_eval,
       |               unnest(list_transform(range(1, len(ws) - 1),
       |                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
       |        FROM t WHERE len(ws) >= 3))""".stripMargin
  }

  private val decontaminateOracle =
    s"""WITH ${evalShingleCtes("doc_id, lang, source, text")},
       |marked AS (
       |  SELECT doc_id, is_eval,
       |         MAX(is_eval) OVER (PARTITION BY sh) AS has_eval
       |  FROM s),
       |hits AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits
       |  FROM marked WHERE is_eval = 0 AND has_eval = 1 GROUP BY 1)
       |SELECT d.doc_id, d.lang, d.source,
       |       COALESCE(h.n_eval_hits, 0) AS n_eval_hits,
       |       h.n_eval_hits IS NULL AS clean
       |FROM tagged d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.is_eval = 0
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q81

  /** Caller-declared eval-shingle capacity for the q81 bloom (plan-time
    * constant — a production eval suite's size is config, not a runtime
    * probe; overflow only degrades the prescreen's selectivity). */
  val EVAL_SHINGLE_CAPACITY: Long = 1L << 20

  /** q81: [[decontaminate]] with a BLOOM-FILTER PRESCREEN — the 100 TB
    * deploy shape the q75 scaladoc names. The eval shingle set aggregates
    * into Spark's own `BloomFilterAggregate` (via [[graft.functions.Bloom]])
    * and rides to the probe side as a SCALAR SUBQUERY — executed once,
    * shipped to executors like a broadcast, no driver-side action — so
    * training postings are screened MAP-SIDE, before any shuffle: only
    * bloom-surviving postings (true hits + the fpp sliver) reach the
    * exact confirm semi-join. Blooms have no false negatives at any
    * sizing and the confirm join removes every false positive, so q81 ≡
    * q75 EXACTLY — the driver proves it against the very same oracle, and
    * ScrubSpec pins the saturated-filter case. Regime note: when the eval
    * set fits a broadcast, the plain broadcast semi-join already screens
    * map-side and the bloom is redundant; the bloom earns its keep when
    * eval shingles outgrow the broadcast threshold but their ~1.2 bytes/
    * key bloom still fits — millions of eval shingles vs a GB-scale
    * broadcast table.
    *
    * The eval shingle set is cached because TWO consumers read it (the
    * bloom-building subquery and the confirm join) — without it each
    * would re-derive the carve with its own text scan. A caller releases
    * it after materializing (`Caches.release("scrub.evalShingles:" + dir)`). */
  def decontaminateBloom(spark: SparkSession, dir: String,
      capacity: Long = EVAL_SHINGLE_CAPACITY,
      fpp: Double = 0.01): DataFrame = {
    import spark.implicits._
    val sh = evalTaggedShingles(spark, dir)
    val evalSh = graft.Caches.track(s"scrub.evalShingles:$dir",
      sh.filter($"is_eval" === 1).select($"sh").distinct())
    val bloom = evalSh.agg(
      graft.functions.Bloom.filterAgg($"sh", capacity, fpp).as("bf"))
    val hits = sh
      .filter($"is_eval" === 0)
      .filter(graft.functions.Bloom.mightContain(bloom.scalar(), $"sh"))
      .join(evalSh, Seq("sh"), "left_semi")
      .groupBy($"doc_id")
      .agg(count(lit(1)).cast("long").as("n_eval_hits"))
    evalVerdict(spark, dir, hits)
  }

  // ---------------------------------------------------------------- q115

  /** k-anonymity threshold: a quasi-identifier group smaller than this is
    * a disclosure risk. */
  val KANON_K = 5L

  /** Length-bucket width for the quasi-identifier (n_chars/50 rounds the
    * exact length down to a 50-char band — the generalization step that
    * makes lengths a usable quasi-identifier at all). */
  val KANON_LEN_BUCKET = 50L

  /** k-anonymity audit over document metadata — the disclosure-risk check
    * run before PUBLISHING a curated corpus: rows sharing a
    * quasi-identifier tuple (lang, source, 50-char length band) form an
    * anonymity group; any group smaller than [[KANON_K]] could single out
    * its members by metadata alone. Emits every group with its size and
    * at_risk flag — the release gate reads the flagged subset, the
    * fix is further generalization (coarser bands) or suppression
    * (drop/merge the flagged rows), both metadata-level edits.
    *
    * 100 TB shape: one scan → one partial+final hash agg on the
    * quasi-identifier key; group cardinality is bounded by
    * langs × sources × length-bands (dimension-sized), so everything
    * after the agg is trivial. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .groupBy($"lang", $"source",
        floor($"n_chars" / KANON_LEN_BUCKET).cast("long").as("len_bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .withColumn("at_risk", $"n_docs" < KANON_K)
      .orderBy($"lang", $"source", $"len_bucket")
  }

  private val kAnonymityOracle =
    s"""SELECT lang, source,
       |       CAST(n_chars // $KANON_LEN_BUCKET AS BIGINT) AS len_bucket,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       COUNT(*) < $KANON_K AS at_risk
       |FROM documents GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q130

  /** Whitespace run class, java.util.regex ∩ RE2 (no `\s`: the two
    * dialects disagree on U+000B membership). */
  val WS_RE = "[ \\t\\n\\r]+"

  /** q130: canonical text normalization — the edit that runs BEFORE any
    * hash-keyed operator: Unicode NFC (composed and decomposed renderings
    * of the same text md5 differently — a dedup/fingerprint hazard, not a
    * cosmetic one) via the native [[graft.functions.NfcNormalize]]
    * codegen expression, then whitespace-run collapse + trim. Reports the
    * normalized text itself (byte-compared by the oracle — the q72/q98
    * strongest-evidence discipline) plus per-doc change evidence: which
    * docs the NFC pass touched and which the whitespace pass touched.
    *
    * The fixture corpus is machine-generated and already NFC/single-
    * spaced, so both flags are false on it (exactly the q72 situation:
    * the corpus is PII-free); the planted decomposed/ligature/Hangul-jamo
    * semantics are pinned by FunctionsSpec against JDK-computed
    * expectations, and the DuckDB twin (`nfc_normalize`, utf8proc) was
    * probe-verified equal on those classes.
    *
    * 100 TB shape: pure codegen projection — no shuffle, no state; the
    * `isNormalized` fast path makes the common (already-clean) row
    * allocation-free. */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .withColumn("t_nfc", graft.functions.NfcNormalize($"text"))
      .withColumn("text_norm", trim(regexp_replace($"t_nfc", WS_RE, " ")))
      .select($"doc_id", $"text_norm",
        length($"text").cast("long").as("n_chars"),
        length($"text_norm").cast("long").as("n_chars_norm"),
        ($"t_nfc" =!= $"text").as("nfc_changed"),
        ($"text_norm" =!= $"t_nfc").as("ws_changed"))
  }

  private val normalizeOracle =
    s"""WITH n AS (
       |  SELECT doc_id, text, nfc_normalize(text) AS t_nfc FROM documents
       |), c AS (
       |  SELECT doc_id, text, t_nfc,
       |         trim(regexp_replace(t_nfc, '$WS_RE', ' ', 'g')) AS text_norm
       |  FROM n
       |)
       |SELECT doc_id, text_norm,
       |       CAST(length(text) AS BIGINT) AS n_chars,
       |       CAST(length(text_norm) AS BIGINT) AS n_chars_norm,
       |       t_nfc <> text AS nfc_changed,
       |       text_norm <> t_nfc AS ws_changed
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q146

  /** Contamination PROVENANCE — the auditor's drill-down of [[decontaminate]]:
    * q75/q81 flag a training doc on ANY shared eval shingle, which answers
    * "is it contaminated?" but not the questions a release review asks —
    * WHICH eval items leak into it, and HOW MUCH of each item it covers.
    * One row per (training doc, eval item) pair sharing ≥1 shingle:
    * `n_shared` (distinct shared shingles — both sides are distinct
    * per doc, so the gram join needs no dedup), the eval item's own
    * distinct-shingle inventory `eval_n`, and `containment` =
    * n_shared/eval_n (ONE division of exact BIGINTs) — containment ≈ 1
    * means the eval item appears wholesale (the Lee et al. 2022 /
    * GPT-3-style "dirty document" evidence); small fractions are shared
    * boilerplate a reviewer can discount. Eval membership is the same
    * salted-hash carve as q75, so the flagged set here is EXACTLY q75's
    * positives, with evidence attached.
    *
    * 100 TB shape: q75's documented 2-scan floor (eval leg + training
    * leg carved from the same table). The pair stage is a gram-keyed
    * equi-join whose volume is shared-posting pairs — bounded by the
    * EVAL side's posting list (the suite is curated and small; a deploy
    * broadcasts it, and the q81 bloom prescreen composes unchanged when
    * it outgrows the broadcast). Rollups re-key at pair grain — never
    * corpus-sized — and `eval_n` is a count window over the eval side's
    * own exchange. */
  def contaminationProvenance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = evalTaggedShingles(spark, dir)
    val evalSide = sh.filter($"is_eval" === 1)
      .select($"doc_id".as("eval_id"), $"sh")
      .withColumn("eval_n",
        count(lit(1)).over(Window.partitionBy($"eval_id")).cast("long"))
    val trainSide = sh.filter($"is_eval" === 0).select($"doc_id", $"sh")
    trainSide.join(evalSide, "sh")
      .groupBy($"doc_id", $"eval_id", $"eval_n")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .withColumn("containment",
        $"n_shared".cast("double") / $"eval_n".cast("double"))
      .select($"doc_id", $"eval_id", $"n_shared", $"eval_n", $"containment")
      .orderBy($"doc_id", $"eval_id")
  }

  private val provenanceOracle =
    s"""WITH ${evalShingleCtes("doc_id, text")},
       |e AS (
       |  SELECT doc_id AS eval_id, sh,
       |         CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS eval_n
       |  FROM s WHERE is_eval = 1),
       |tr AS (SELECT doc_id, sh FROM s WHERE is_eval = 0),
       |p AS (
       |  SELECT tr.doc_id, e.eval_id, e.eval_n,
       |         CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM tr JOIN e ON tr.sh = e.sh
       |  GROUP BY 1, 2, 3)
       |SELECT doc_id, eval_id, n_shared, eval_n,
       |       CAST(n_shared AS DOUBLE) / CAST(eval_n AS DOUBLE)
       |         AS containment
       |FROM p ORDER BY doc_id, eval_id""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q75_decontamination",
      "eval-set n-gram overlap screen: training docs flagged on any shared shingle, one-scan window shape",
      // compare-only orderBy (q42 precedent); bench times the unordered op
      (s, d) => decontaminate(s, d).orderBy("doc_id"),
      Some(decontaminateOracle), headline = false,
      benchFn = Some(decontaminate)),
    Query("q81_decontamination_bloom",
      "bloom-prescreened decontamination ≡ q75 exactly (scalar-subquery bloom, map-side screen)",
      (s, d) => decontaminateBloom(s, d).orderBy("doc_id"),
      Some(decontaminateOracle), headline = false,
      benchFn = Some((s: SparkSession, d: String) => decontaminateBloom(s, d))),
    Query("q72_pii_scrub",
      "PII redaction (email/phone/IPv4) with per-doc evidence counts, dialect-intersection regexes",
      // orderBy is compare-presentation (q42 precedent): the bench times
      // the unordered projection, which reads the scan exactly once
      (s, d) => piiScrub(s, d).orderBy("doc_id"),
      Some(piiScrubOracle), headline = false,
      benchFn = Some(piiScrub)),
    Query("q115_k_anonymity",
      "k-anonymity disclosure audit: quasi-identifier groups (lang, source, length band) under k=5 flagged",
      kAnonymity, Some(kAnonymityOracle), headline = false),
    Query("q130_normalize_text",
      "canonical text normalization: native-codegen Unicode NFC + whitespace collapse, byte-compared output + change evidence",
      (s, d) => normalizeText(s, d).orderBy("doc_id"),
      Some(normalizeOracle), headline = false,
      benchFn = Some(normalizeText)),
    Query("q146_contamination_provenance",
      "per-(train doc, eval item) leak evidence: shared shingles + eval-item containment (q75's drill-down)",
      contaminationProvenance, Some(provenanceOracle), headline = false))
}
