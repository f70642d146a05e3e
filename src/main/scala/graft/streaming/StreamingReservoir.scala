package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of the per-stratum A-ES weighted reservoir —
  * the q155/q159 sample kept CURRENT as documents arrive, the way
  * [[StreamingCap]] keeps the per-source keep list current: each
  * micro-batch is folded into the stored reservoir with
  * [[graft.ops.Sampling.reservoirMerge]], the same mergeable-summary
  * core the batch increment (q159) runs and the full-corpus oracle
  * proves.
  *
  * Scale design (the [[StreamingCap]] contract, inherited verbatim):
  *  - State is DIMENSION-sized (≤ strata·k rows) — the reservoir
  *    property itself — so it lives as a plain parquet dir rewritten per
  *    batch; no state store, no eviction, the corpus never rescanned.
  *  - Delivery: `foreachBatch` replays a failed batch at-least-once; the
  *    A-ES key is ROW-INTRINSIC, so the rank-cap merge identity is exact
  *    and reservoirMerge(reservoirMerge(S,B),B) = reservoirMerge(S,B)
  *    (the set-union dedup inside the core absorbs re-delivered rows) —
  *    the sink is exactly-once WITHOUT a batch-id fence. The spec pins
  *    the replay identity directly.
  *  - Publication goes through [[VersionedState]].
  */
/** A document arriving on the reservoir-maintenance stream. */
final case class ResDoc(doc_id: Long, lang: String, n_chars: Long)

object StreamingReservoir {

  /** Fold one (micro-)batch into the stored reservoir — pure plan, the
    * spec's equivalence/idempotence surface. Delegates to the SHARED
    * q159 core so the streaming and batch maintenance paths cannot
    * drift. */
  def mergeBatch(stored: DataFrame, batch: DataFrame): DataFrame =
    graft.ops.Sampling.reservoirMerge(stored, batch)

  /** Current reservoir at `stateDir`, or an empty frame before the first
    * batch lands. */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    VersionedState.readLatest(spark, stateDir) {
      import spark.implicits._
      Seq.empty[(String, Long, Long, Double, Long)]
        .toDF("lang", "doc_id", "n_chars", "smp_key", "rk")
    }

  /** The maintain loop ([[VersionedState.maintain]]): arriving documents
    * (doc_id, lang, n_chars) → merged reservoir published at `stateDir` (read it back with
    * [[readState]]). */
  def ingestStream(docs: DataFrame, stateDir: String): DataStreamWriter[Row] =
    VersionedState.maintain(docs, stateDir)(readState, mergeBatch)
}
