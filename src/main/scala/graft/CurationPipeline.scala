package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** The curation analog of [[Pipeline]] — one call runs the full
  * training-data flow a 100 TB corpus run ships:
  *
  *   1. CURATE: the q62 verdict (dedup keep ∩ quality thresholds ∩
  *      recognized language) selects the documents worth training on;
  *   2. CAP: the q139 per-source ceiling ([[ops.Sampling.capFilter]],
  *      ranked by the verdict's own n_tokens evidence) stops any single
  *      source dominating the mix — the stage between dedup and rate
  *      sampling in a RefinedWeb/FineWeb-style run;
  *   3. SAMPLE: the deterministic md5-threshold mix ([[ops.Sampling]])
  *      downsamples each predicted-language stratum to its target rate;
  *   4. SHARD: survivors' full rows land in `shards/shard=K/` by a
  *      deterministic id hash ([[Sinks.writeShards]]) for round-robin
  *      loader consumption;
  *   5. MANIFEST: a one-row summary (S7 dict-lift shape) records the
  *      stage counts, so a run is auditable without re-scanning shards.
  *
  * Every stage is a pure function of the input corpus — re-running the
  * pipeline reproduces byte-identical shard membership (the property the
  * q65 oracle pins for the sampler and SinksSpec pins for the writer).
  * The driver-side actions are the manifest counts only (1-row
  * aggregates, the Pipeline.run precedent); documents stream scan→shard
  * without collecting. */
object CurationPipeline {

  /** Runs curate → sample → shard under `outDir`; returns the manifest
    * (also written to `<outDir>/manifest`). */
  def run(
      spark: SparkSession, dir: String, outDir: String,
      nShards: Int = 8,
      sourceCap: Int = ops.Sampling.SOURCE_CAP): DataFrame = {
    import spark.implicits._
    // the run reads `documents` through one snapshot: listed and
    // schema-inferred once, every stage on the same file set
    new Tables.Snapshot(spark, dir).apply {
      // the verdict is the pipeline's dominant plan (the q62 dedup
      // composition) and is consumed twice — by the shard write and by the
      // manifest's per-source count — so it is cached for the run's
      // duration; id-and-metadata-sized, never the text
      val verdictTag = s"curationpipeline.verdict:$dir"
      val verdict = Caches.track(verdictTag, ops.TextPipeline.curationVerdict(spark, dir))
      try {
        val capped =
          ops.Sampling.capFilter(verdict, $"n_tokens", sourceCap)
        val sampled = ops.Sampling.sampleFilter(capped, "lang_pred")
        // shards carry the FULL document row (the loader wants text, not
        // verdict metadata): id-keyed left-semi against the sample survivors
        val shardInput = Tables(spark, dir, "documents")
          .join(sampled.select($"doc_id"), Seq("doc_id"), "left_semi")
        // n_sampled is counted on the shard write itself, so the manifest
        // can never overstate the shipped artifact
        val nSharded =
          Sinks.writeShards(shardInput, s"$outDir/shards", "doc_id", nShards)
        val nCorpus = Tables(spark, dir, "documents").count()
        // both stage counts from one aggregate over the cached verdict:
        // capFilter's row_number keeps exactly min(nₛ, cap) of a source's
        // nₛ curated rows, so n_curated = Σ nₛ and n_capped = Σ min(nₛ, cap)
        val counts = verdict.groupBy($"source").agg(count(lit(1)).as("n"))
          .agg(sum($"n"), sum(least($"n", lit(sourceCap.toLong))))
          .na.fill(0L).head()
        val manifest = Seq(
          (nCorpus, counts.getLong(0), counts.getLong(1), nSharded, nShards.toLong)
        ).toDF("n_corpus", "n_curated", "n_capped", "n_sampled", "n_shards")
        manifest.coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/manifest")
        manifest
      } finally {
        // the verdict and its dedup stage's (id, digest) projection, and
        // nothing else: a library caller's own caches stay intact
        Caches.release(verdictTag)
        Caches.release(ops.TextPipeline.dedupBaseTag(dir))
      }
    }
  }
}
