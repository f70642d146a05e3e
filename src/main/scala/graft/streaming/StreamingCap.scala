package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
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
  *  - Publication is versioned-dir + atomic pointer swap: the merged
  *    list lands in `state_v<batchId>`, then a LATEST pointer file is
  *    replaced atomically. A crash at ANY point leaves LATEST on the
  *    previous consistent version; the replayed batch overwrites
  *    `state_v<batchId>` (same content, by idempotence) and re-points.
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

  private def latestVersion(stateDir: String): Option[String] = {
    val ptr = java.nio.file.Paths.get(stateDir, "LATEST")
    if (java.nio.file.Files.exists(ptr))
      Some(new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8").trim)
    else None
  }

  /** Current keep list at `stateDir`, or an empty frame before the first
    * batch lands. */
  def readState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame =
    latestVersion(stateDir) match {
      case Some(v) => spark.read.parquet(s"$stateDir/$v")
      case None =>
        import spark.implicits._
        Seq.empty[(Long, String, Long, Long)]
          .toDF("doc_id", "source", "src_rank", "n_chars")
    }

  /** The maintain loop: arriving documents (doc_id, source, n_chars) →
    * merged keep list published at `stateDir` (read it back with
    * [[readState]]). */
  def ingestStream(docs: DataFrame, stateDir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val prev = latestVersion(stateDir)
        val v = s"state_v$batchId"
        mergeBatch(readState(spark, stateDir), batch)
          .write.mode("overwrite").parquet(s"$stateDir/$v")
        // atomic pointer swap, then best-effort teardown of the
        // superseded version (failure leaves garbage, never bad state)
        val tmp = java.nio.file.Paths.get(stateDir, s".LATEST_$batchId")
        java.nio.file.Files.write(tmp, v.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp,
          java.nio.file.Paths.get(stateDir, "LATEST"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        prev.filter(_ != v).foreach(old => graft.LiveDirSlot
          .deleteLocalDir(java.nio.file.Paths.get(stateDir, old).toString))
        ()
      }
}
