package graft

import java.nio.file.Files

/** End-to-end curation flow: verdict → sample → shards → manifest, with
  * determinism and layout pinned. */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  // enough en/de docs that the 0.25/0.75 sampler keeps a nonempty set;
  // quality gates (≥16 tokens, ttr ≥ 0.35, known lang) passed via 17
  // distinct tokens incl. 5 stopwords; doc 100 duplicates doc 0 exactly.
  private def corpus() = {
    def tail(i: Long) = (1 to 12).map(k => s"u${i}n$k").mkString(" ")
    val en = (0L until 40L).map(i =>
      Doc(i, s"the of and to in ${tail(i)}", lang = "en"))
    val de = (40L until 80L).map(i =>
      Doc(i, s"der die und von zu ${tail(i)}", lang = "de"))
    (en ++ de :+ Doc(100L, en.head.text, lang = "en")).toDF
  }

  test("curation pipeline: shards hold exactly the sampled survivors") {
    val dir = fixtureDir("documents" -> corpus())
    val out = Files.createTempDirectory("graft-curation").toString
    val manifest = CurationPipeline.run(spark, dir, out, nShards = 4)
      .collect().head
    assert(manifest.getAs[Long]("n_corpus") == 81L)
    // dup doc 100 must be dropped by the verdict stage
    assert(manifest.getAs[Long]("n_curated") < 81L)
    // the fixture is single-source, so the cap stage binds exactly:
    // n_capped = min(n_curated, SOURCE_CAP)
    assert(manifest.getAs[Long]("n_capped") ==
      math.min(manifest.getAs[Long]("n_curated"),
        ops.Sampling.SOURCE_CAP.toLong))
    assert(manifest.getAs[Long]("n_sampled") <= manifest.getAs[Long]("n_capped"))
    assert(manifest.getAs[Long]("n_sampled") > 0L)

    val shards = spark.read.parquet(s"$out/shards")
    assert(shards.count() == manifest.getAs[Long]("n_sampled"))
    assert(!shards.select("doc_id").collect().map(_.getLong(0)).contains(100L))
    // layout: one file per shard directory
    val shardDirs = new java.io.File(s"$out/shards").listFiles()
      .filter(_.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty && shardDirs.length <= 4)
    shardDirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${d.getName} should hold exactly one file")
    }
  }

  test("manifest stage counts: per-source cap sums with one source over the cap and one under") {
    // docs 40-44 form source "small" (under SOURCE_CAP), the rest "big"
    val docs = corpus().as[Doc].collect().toSeq.map(d =>
      d.copy(source = if (d.doc_id >= 40L && d.doc_id < 45L) "small" else "big"))
    val dir = fixtureDir("documents" -> docs.toDF)
    val out = Files.createTempDirectory("graft-curation").toString
    val manifest = CurationPipeline.run(spark, dir, out, nShards = 4)
      .collect().head
    val verdict = ops.TextPipeline.curationVerdict(spark, dir)
    try {
      val perSource = verdict.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perSource("big") > ops.Sampling.SOURCE_CAP, perSource)
      assert(perSource("small") < ops.Sampling.SOURCE_CAP, perSource)
      assert(manifest.getAs[Long]("n_curated") == verdict.count())
      assert(manifest.getAs[Long]("n_capped") ==
        ops.Sampling.capFilter(verdict, $"n_tokens").count())
    } finally Caches.release(ops.TextPipeline.dedupBaseTag(dir))
  }

  test("a curation run resolves documents once: one schema inference") {
    val dir = fixtureDir("documents" -> corpus())
    val out = Files.createTempDirectory("graft-curation").toString
    val n = schemaInferences(CurationPipeline.run(spark, dir, out, nShards = 4))
    assert(n == 1, n)
  }

  test("curation pipeline: re-run reproduces identical shard membership") {
    val dir = fixtureDir("documents" -> corpus())
    val out1 = Files.createTempDirectory("graft-curation").toString
    val out2 = Files.createTempDirectory("graft-curation").toString
    CurationPipeline.run(spark, dir, out1, nShards = 4)
    CurationPipeline.run(spark, dir, out2, nShards = 4)
    def membership(out: String) = spark.read.parquet(s"$out/shards")
      .select("shard", "doc_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(membership(out1) == membership(out2))
  }
}
