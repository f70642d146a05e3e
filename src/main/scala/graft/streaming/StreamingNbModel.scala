package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of the q149/q157 Naive-Bayes MODEL — the T1
  * trio pattern ([[StreamingCap]] for q142, [[StreamingReservoir]] for
  * q159) applied to the classifier: each arriving micro-batch of
  * labeled documents is folded into the two stored sum-mergeable model
  * halves — per-(class, term) token counts and per-class doc counts —
  * through the SHARED [[graft.ops.Classify]] merge cores, and the full
  * serving surface (V, T_c, N, smoothed lp / prior / unseen default) is
  * RE-DERIVED from the merged state on read, exactly as q157's batch
  * increment does. Stream ≡ batch recompute is pinned by StreamingSpec.
  *
  * Scale design (the [[StreamingCap]] contract, adapted):
  *  - State is MODEL-sized (|V|·|C| + |C| rows), not corpus-sized — the
  *    NB summary property — so it lives as plain parquet versions
  *    published through [[VersionedState]]; the settled corpus is never
  *    rescanned.
  *  - Delivery: count-sum merges are NOT idempotent (unlike the A-ES
  *    reservoir's rank-cap), so exactly-once comes from a BATCH-ID
  *    FENCE: the published version carries the batch id, and a
  *    re-delivered batch (id ≤ the published one) is skipped whole —
  *    replay ≡ no-op is a fence property, pinned directly by the spec.
  */
/** A labeled document arriving on the model-maintenance stream. */
final case class NbDoc(doc_id: Long, lang: String, text: String)

object StreamingNbModel {

  private def emptyTerms(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Long)].toDF("cls", "term", "c_ct")
  }
  private def emptyPrior(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("cls", "n_c")
  }

  /** The stored model halves at `stateDir` (empty before the first
    * batch lands). */
  def readState(spark: SparkSession,
      stateDir: String): (DataFrame, DataFrame) =
    VersionedState.latest(stateDir) match {
      case Some((v, _)) =>
        (spark.read.parquet(s"$v/terms"), spark.read.parquet(s"$v/prior"))
      case None => (emptyTerms(spark), emptyPrior(spark))
    }

  /** The full serving surface derived from the current state — what
    * q149's scoring join consumes, byte-identical to the q157 batch
    * path because it IS the shared core. */
  def servingSurface(spark: SparkSession, stateDir: String): DataFrame = {
    val (terms, prior) = readState(spark, stateDir)
    graft.ops.Classify.nbServingSurface(terms, prior)
  }

  /** Fold one batch into the state iff `batchId` is beyond the fence;
    * a re-delivered id is a whole-batch no-op. Exposed for the spec's
    * replay pin; [[ingestStream]]'s foreachBatch delegates here. */
  def foldBatch(spark: SparkSession, stateDir: String,
      batch: DataFrame, batchId: Long): Unit = {
    // fence: replay ≡ no-op
    if (VersionedState.latest(stateDir).exists(_._2 >= batchId)) return
    val (terms, prior) = readState(spark, stateDir)
    val v = VersionedState.versionDir(stateDir, batchId)
    graft.ops.Classify.nbMergeTerms(terms, batch)
      .write.mode("overwrite").parquet(s"$v/terms")
    graft.ops.Classify.nbMergePrior(prior, batch)
      .write.mode("overwrite").parquet(s"$v/prior")
    VersionedState.publish(stateDir, batchId)
  }

  /** The maintain loop: arriving labeled documents (doc_id, lang, text)
    * → merged model halves published at `stateDir` (read the serving
    * surface back with [[servingSurface]]).
    *
    * A DURABLE `checkpointDir` is load-bearing for the fence, not an
    * option: Structured Streaming only guarantees
    * monotone batch ids under a persistent checkpointLocation — without
    * one, a restarted query resets ids to 0, and the fence would then
    * silently SKIP real new batches until the counter passes the
    * published version (or re-fold old data once it does), breaking the
    * exactly-once contract the count-sum merge depends on. It defaults
    * to `stateDir/_checkpoint` so the id sequence lives and dies with
    * the state it fences; pass an explicit dir to relocate it, never to
    * drop it. */
  def ingestStream(docs: DataFrame, stateDir: String,
      checkpointDir: String = null): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Option(checkpointDir).getOrElse(s"$stateDir/_checkpoint"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch.sparkSession, stateDir, batch, batchId)
      }
}
