package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** A vector arriving on the ingest stream (fixture-schema embedding plus
  * an arrival event-time, which the batch `embeddings` table lacks). */
final case class StreamVec(
    vec_id: Long, embedding: Seq[Float], arrived: java.sql.Timestamp)

/** Streaming ANN ingest — closes the train → serve → MAINTAIN lifecycle
  * the way q70 closed dedup's: [[graft.ops.Ann.ivfKmeans]]/q83 trains the
  * coarse quantizer, q48/q85 serve top-k over cell-bucketed candidates,
  * and this module keeps the cell index CURRENT between retrains: vectors
  * arriving on a stream are assigned to their nearest trained centroid in
  * `foreachBatch` — the exact [[graft.ops.Ann.assignTo]] argmin the batch
  * trainer's E-step uses, same broadcast, same tie-break — and appended
  * to a `cent_id`-partitioned parquet index, the layout an IVF probe
  * partition-prunes to its nprobe cells.
  *
  * Scale design:
  *  - STATELESS stream: given trained centroids, assignment is a pure
  *    per-row function, so there is no state store at all — cost scales
  *    with micro-batch size, never corpus size (contrast the ledger's
  *    keyed running state, which must be RocksDB-backed and evicted).
  *  - The centroid set is k rows, broadcast into every batch (k ≈
  *    `ncentroidsFor(n)` — thousands at 1e9 vectors, still broadcast
  *    range).
  *  - The sink appends one parquet dir per cell (`partitionBy`), so the
  *    serve path's cell filter stays PartitionFilters-only — no index
  *    rebuild between retrains, and a retrain swaps the centroid frame
  *    and (optionally) starts a fresh index dir.
  *  - Delivery: EXACTLY-ONCE (round-16 verdict item 6). `foreachBatch`
  *    replays a failed batch — failure between sink write and offset
  *    commit — and a plain append would duplicate index rows; a
  *    duplicate occupying two slots of a later top-k can displace a true
  *    k-th candidate, so "same candidate, same score" is NOT idempotence
  *    for a top-k consumer. The sink therefore writes each micro-batch
  *    under a `batch_id=` partition with dynamic partition overwrite
  *    (the [[StreamingLedger.dqFanoutStream]] device): a replay replaces
  *    exactly its own partitions, never appends beside them.
  *    [[readCells]] is unchanged — `cent_id` stays a partition column,
  *    so the serve filter still prunes directories whatever level it
  *    nests at.
  */
object StreamingAnn {

  /** One (micro-)batch assigned to the trained centroids with its vector
    * payload — `(vec_id, embedding, cent_id)`, the SELF-CONTAINED index
    * row [[ingestStream]] appends: the serve path reranks straight from
    * the pruned cell read, no join back to a corpus table. `exactMetric`:
    * false (default) scores the argmin in double — deploy ingest
    * throughput; true runs the decimal leg (see
    * [[graft.ops.Ann.assignTo]]'s flag contract). q91 writes its index
    * through THIS function (decimal leg) and oracle-proves the result end
    * to end. */
  def indexBatch(batch: DataFrame, centroids: DataFrame,
      exactMetric: Boolean = false): DataFrame =
    graft.ops.Ann.assignVectors(batch, centroids, exactMetric)

  /** One micro-batch of the index sink: assignment rows written under
    * their `batch_id=` partition with dynamic partition overwrite, so a
    * replayed id REPLACES its own partitions (exactly-once; see the
    * Delivery note above). Exposed so the spec can replay a batch id and
    * pin the no-duplicate contract the way StreamingNbModel.foldBatch's
    * fence is pinned. */
  def appendIndexBatch(batch: DataFrame, centroids: DataFrame,
      indexDir: String, batchId: Long): Unit =
    indexBatch(batch, centroids)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cent_id")
      .parquet(indexDir)

  /** The maintain loop: arriving vectors → argmin assignment → appended
    * cell-partitioned parquet index at `indexDir` (self-contained rows
    * via [[indexBatch]], exactly-once via [[appendIndexBatch]]). Start
    * with `.start()` / stop via the returned query handle. */
  def ingestStream(
      vecs: DataFrame, centroids: DataFrame,
      indexDir: String): DataStreamWriter[Row] =
    vecs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendIndexBatch(batch, centroids, indexDir, batchId)
      }

  /** Serve-side read of the maintained index: candidates of the probe's
    * cells only — `cent_id` is a partition column, so the filter prunes
    * directories (PartitionFilters), reading none of the other cells'
    * bytes. */
  def readCells(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      cells: Seq[Long]): DataFrame =
    spark.read.parquet(indexDir).filter(col("cent_id").isin(cells: _*))
}
