package graft

/** Scale-proof dataset writer (round-7 verdict item 1): synthesizes a
  * FIXTURE-SCHEMA dir (`lineitem events documents embeddings` +
  * `part supplier` dims) at any multiple of the sf0.1 shape using the
  * deterministic generator (P9) — so the SAME `graft.Bench` run, pointed
  * at two generated dirs (mult=1 and mult=10), yields an
  * apples-to-apples two-point scaling curve on identically-distributed
  * data. `/root/testdata` tops out at sf0.1; this is how the engine's
  * 100 TB claims get a measured slope instead of plan audits alone.
  *
  * Row counts at mult=1 mirror sf0.1: ~200k orders × ~3.05 lines + 2 ×
  * 15k transfer legs ≈ 640k lineitem rows; 100k events; 5k documents;
  * 2k embedding vectors. Dimensions (part/supplier domains) stay FIXED
  * across multiples — the TPC-H discipline: facts scale, dims do not, so
  * group counts hold constant and the per-query slope isolates fact-side
  * cost.
  *
  * Usage: runMain graft.ScaleGen <outDir> [mult] [tables] [clusters]
  *  - `tables`: optional comma-separated subset (e.g.
  *    `documents,embeddings`) — the mult=100 curvature point (round-8
  *    verdict item 3) needs only the small-table families, and writing
  *    64M lineitem rows nobody benches would be waste.
  *  - `clusters`: embedding cluster-count mode (round-9 verdict item 3).
  *    `fixed` (default) keeps the 10-label fixture — the WORST CASE for
  *    density-sensitive operators, since in-cluster pair volume grows
  *    quadratically with n; `grow` scales the label count as
  *    `max(10, nVecs / 200)` — constant per-cluster density (the mult=1
  *    baseline is 2000 vectors over 10 clusters = 200 members each),
  *    the realistic-corpus shape where topic count grows with the
  *    corpus; an integer pins it explicitly.
  *    The q87 construction oracle is pinned to the 10-label DEFAULT,
  *    so `grow`/explicit dirs are for scale measurement, not the
  *    correctness gate.
  *  - `docmode` (round-12, verdict item 7 follow-up): `plain` (default)
  *    writes the raw fixture corpus; `curation` post-processes the
  *    documents table so every stage of the q62 curation verdict does
  *    real work at scale — the raw fixture's token soup contains no
  *    stopwords, so `langPredict` returns 'unknown' for EVERY doc and
  *    the verdict output is empty (the round-12 SCALING caveat). The
  *    noise is deterministic by doc_id: most docs get their labeled
  *    language's stopword tail appended (so the lang gate passes and
  *    classifies), ~1/13 keep the bare soup (lang-gate drops), ~1/37
  *    become one-token spam (TTR-gate drops), ~1/41 are truncated to 5
  *    tokens (length-gate drops). ScaleGen-only: the q86 construction
  *    oracle pins the PLAIN default, and `/root/testdata` is untouched.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ScaleGen <outDir> [mult] [tables] [clusters=fixed|grow|<k>] " +
        "[docmode=plain|curation|megadup]")
    val dir = args(0)
    val mult = if (args.length > 1) args(1).toDouble else 1.0
    val wanted = if (args.length > 2)
      args(2).split(',').map(_.trim).filter(_.nonEmpty).toSet
    else Set.empty[String]
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nOrders = (200000 * mult).toLong
    val nTransfers = (15000 * mult).toLong
    val nEvents = (100000 * mult).toLong
    val nDocs = (5000 * mult).toLong
    val nVecs = (2000 * mult).toLong
    val nClusters = args.lift(3).getOrElse("fixed") match {
      case "fixed" => 10
      // constant per-cluster density: the mult=1 baseline is 2000
      // vectors over 10 clusters = 200 members each
      case "grow" => math.max(10L, nVecs / 200L).toInt
      case k => k.toInt
    }

    import org.apache.spark.sql.functions._
    // fixed-domain dims sized to the generated fact's key domains
    // (l_partkey < 5000 from the detail-line draw, l_suppkey < 10)
    val part = spark.range(5000).select(
      col("id").as("p_partkey"),
      expr("concat('Brand#', CAST(id % 50 AS STRING))").as("p_brand"),
      expr("concat('part-', lpad(CAST(id AS STRING), 6, '0'))").as("p_name"),
      expr(s"CAST((${"((id * 48271 + 11) % 2147483647)"} % 50) + 1 AS INT)")
        .as("p_size"))
    val supplier = spark.range(10).select(
      col("id").as("s_suppkey"),
      expr("concat('WH-', CAST(id AS STRING))").as("s_name"))

    val docMode = args.lift(4).getOrElse("plain")
    require(Set("plain", "curation", "megadup")(docMode),
      s"docmode must be plain|curation|megadup, got $docMode")
    /** Curation-noise post-pass (scaladoc above): deterministic by
      * doc_id, built from [[ops.TextPipeline.STOPWORDS]] so the planted
      * tails hit exactly the lists `langPredict` scores. Tails are
      * chosen per label to be DISTINCTIVE (no cross-list collisions that
      * would flip the argmax): en/es/de use their own full lists; fr
      * drops the es-shared words; zh plants one CJK char. */
    def curationNoise(d: org.apache.spark.sql.DataFrame) = {
      val sw = ops.TextPipeline.STOPWORDS.toMap
      val tails = Map(
        "en" -> sw("en").mkString(" "),
        "es" -> sw("es").mkString(" "),
        "de" -> sw("de").mkString(" "),
        "fr" -> sw("fr").filterNot(Set("la", "de", "que", "un")).mkString(" "),
        "zh" -> "的")
      val langCase = tails.map { case (l, t) =>
        s"WHEN lang = '$l' THEN concat(text, ' $t')"
      }.mkString("\n             ")
      d.selectExpr(
        "doc_id",
        s"""CASE WHEN doc_id % 37 = 3
           |          THEN rtrim(repeat(concat('spamtok',
           |               CAST(doc_id AS STRING), ' '), 40))
           |     WHEN doc_id % 41 = 5
           |          THEN array_join(slice(split(text, ' '), 1, 5), ' ')
           |     WHEN doc_id % 13 = 7 THEN text
           |     $langCase
           |     ELSE text END AS text""".stripMargin,
        "lang", "source")
        .selectExpr("doc_id", "text", "lang", "source",
          "CAST(length(text) AS BIGINT) AS n_chars")
    }
    /** Adversarial-skew post-pass (round-14 verdict item 8, the
      * mega-cluster probe): every doc with doc_id % 10 == 0 — 10% of
      * the corpus — becomes a member of ONE planted near-dup cluster: a
      * fixed 60-token block plus a 3-token doc-unique tail. Tails keep
      * members byte-DISTINCT (exact-hash dedup must not absorb the
      * cluster) while pairwise 3-shingle Jaccard stays ≈ 0.9 ≥ the 0.8
      * near-dup threshold. Every block shingle's df is n/10 ≫
      * MAX_SHINGLE_DF, so the whole cluster is invisible to the rare
      * index and exercises the MOSTLY-HOT FALLBACK exclusively
      * (hot_frac ≈ 0.95 per member) — the exact skew the df cutoff +
      * bounded-probe design claims to survive; `hotFallbackStats`
      * measures its pair-volume driver. */
    def megadupNoise(d: org.apache.spark.sql.DataFrame) = {
      val block = (1 to 60).map(i => s"dupblock$i").mkString(" ")
      d.selectExpr(
        "doc_id",
        s"""CASE WHEN doc_id % 10 = 0
           |     THEN concat('$block tail', CAST(doc_id AS STRING),
           |                 ' u', CAST(doc_id % 7 AS STRING),
           |                 ' v', CAST(doc_id % 11 AS STRING))
           |     ELSE text END AS text""".stripMargin,
        "lang", "source")
        .selectExpr("doc_id", "text", "lang", "source",
          "CAST(length(text) AS BIGINT) AS n_chars")
    }
    val docGen = () => {
      val d0 = ops.Generator.fixtureDocuments(spark, nDocs)
      docMode match {
        case "curation" => curationNoise(d0)
        case "megadup" => megadupNoise(d0)
        case _ => d0
      }
    }
    val gens = Seq(
      "lineitem" -> (() => ops.Generator.fixtureLineitem(spark, nOrders, nTransfers)),
      "events" -> (() => ops.Generator.fixtureEvents(spark, nEvents)),
      "documents" -> docGen,
      "embeddings" -> (() =>
        ops.Generator.fixtureEmbeddings(spark, nVecs, nClusters = nClusters)),
      "part" -> (() => part),
      "supplier" -> (() => supplier))
    val known = gens.map(_._1).toSet
    require(wanted.subsetOf(known),
      s"unknown table(s) ${(wanted -- known).mkString(",")}; known: ${known.mkString(",")}")
    val tables = gens
      .filter { case (name, _) => wanted.isEmpty || wanted(name) }
      .map { case (name, f) => name -> f() }
    val counts = tables.map { case (name, df) =>
      graft.sources.Sinks.writeParquet(df, s"$dir/$name.parquet")
      name -> spark.read.parquet(s"$dir/$name.parquet").count()
    }
    val json = counts.map { case (k, v) => s""""$k":$v""" }
      .mkString(s"""{"mult":$mult,"clusters":$nClusters,""", ",", "}")
    println(json)
    spark.stop()
  }
}
