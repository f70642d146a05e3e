package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of the per-source document cap — the q139/q142
  * keep list kept CURRENT as documents arrive, the way [[StreamingAnn]]
  * keeps the IVF cell index current and [[StreamingLedger]] the stock
  * snapshot: each micro-batch is folded into the stored keep list with
  * [[graft.ops.Sampling.capMerge]], the same mergeable-summary core the
  * batch increment (q142) runs and the full-corpus oracle proves.
  *
  * Scale design:
  *  - State is DIMENSION-sized (≤ sources·cap rows), never corpus-sized,
  *    so it lives as a plain parquet dir rewritten per batch — no state
  *    store, no eviction policy; the corpus is never rescanned.
  *  - Delivery: `foreachBatch` replays a failed batch at-least-once, and
  *    the merge identity top-cap(A∪B) = top-cap(top-cap(A)∪B) makes a
  *    replay a NO-OP — capMerge(capMerge(S,B),B) = capMerge(S,B) — so
  *    the sink is exactly-once WITHOUT a batch-id fence (contrast the
  *    ledger sink, whose sums are not idempotent and need one). The
  *    spec pins this replay identity directly.
  *  - Publication goes through [[VersionedState]]: a crash at ANY
  *    point leaves readers on the previous consistent version; the
  *    replayed batch rewrites its version (same content, by idempotence)
  *    and re-points.
  */
/** A document arriving on the cap-maintenance stream. */
final case class CapDoc(doc_id: Long, source: String, n_chars: Long)

object StreamingCap {

  /** Fold one (micro-)batch into the stored keep list — pure plan, the
    * spec's equivalence/idempotence surface. Delegates to the SHARED
    * q142 core so the streaming and batch maintenance paths cannot
    * drift. */
  def mergeBatch(stored: DataFrame, batch: DataFrame): DataFrame =
    graft.ops.Sampling.capMerge(stored, batch)

  /** Current keep list at `stateDir`, or an empty frame before the first
    * batch lands. */
  def readState(spark: SparkSession, stateDir: String): DataFrame =
    VersionedState.readLatest(spark, stateDir) {
      import spark.implicits._
      Seq.empty[(Long, String, Long, Long)]
        .toDF("doc_id", "source", "src_rank", "n_chars")
    }

  /** The maintain loop ([[VersionedState.maintain]]): arriving documents
    * (doc_id, source, n_chars) → merged keep list published at `stateDir` (read it back with
    * [[readState]]). */
  def ingestStream(docs: DataFrame, stateDir: String): DataStreamWriter[Row] =
    VersionedState.maintain(docs, stateDir)(readState, mergeBatch)
}
