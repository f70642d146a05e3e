package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One ledger movement (the stream element of T3). */
final case class Movement(
    part_id: Long,
    warehouse_id: Long,
    quantity: Double,
    ts: java.sql.Timestamp)

/** One snapshot-cell update emitted per micro-batch per touched cell. */
final case class CellUpdate(
    part_id: Long,
    warehouse_id: Long,
    quantity_on_hand: Double,
    n_movements: Long)

/** Structured-Streaming ledger→snapshot maintenance (T3) — the streaming
  * twin of the reference's per-movement UPSERT
  * (`wsm/database_function/functions.sql:35-41`): every incoming movement
  * adjusts its (product, warehouse) cell's running quantity; the emitted
  * stream of [[CellUpdate]]s IS the continuously-maintained `stock` table
  * (SURVEY §2.9 T3: "stateful streaming: groupByKey((product,warehouse))
  * keeping running sum").
  *
  * Correctness contract: for any prefix of the input stream, the latest
  * update per cell equals the batch ledger replay (A14) of that prefix —
  * pinned by the MemoryStream unit test.
  *
  * 100 TB design: state is one (Double, Long) pair per live cell, keyed
  * by the same (part, warehouse) pair every batch shuffles on —
  * reference scale is 50 k cells, 20 M parts × warehouses at 100 TB still
  * fits executor state stores (RocksDB state store for large key spaces;
  * idle-cell eviction via `GroupStateTimeout.ProcessingTimeTimeout` if
  * the key space churns). The watermark path ([[withValidWindow]]) is the
  * T2 policy: future-dated events are rejected up front, late events
  * older than the grace period are dropped by the engine, not by state
  * growth.
  */
object StreamingLedger {

  /** Running snapshot over a (possibly unbounded) movement stream. */
  def runningSnapshot(movements: Dataset[Movement]): Dataset[CellUpdate] = {
    import movements.sparkSession.implicits._
    movements
      .groupByKey(m => (m.part_id, m.warehouse_id))
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: (Long, Long), rows: Iterator[Movement],
         state: GroupState[(Double, Long)]) =>
          Iterator(fold(key, rows, state)))
  }

  /** Folds a cell's new movements into its running (quantity, count)
    * state and returns the cell's update. */
  private def fold(key: (Long, Long), rows: Iterator[Movement],
      state: GroupState[(Double, Long)]): CellUpdate = {
    val (q0, n0) = state.getOption.getOrElse((0.0, 0L))
    var q = q0
    var n = n0
    rows.foreach { m => q += m.quantity; n += 1 }
    state.update((q, n))
    CellUpdate(key._1, key._2, q, n)
  }

  /** [[runningSnapshot]] with BOUNDED state under key churn: idle cells
    * are evicted via `GroupStateTimeout.ProcessingTimeTimeout` after
    * `idleTimeoutMs` without traffic. Eviction removes state WITHOUT
    * emitting — the cell's last emitted [[CellUpdate]] remains its truth,
    * so the contract is sound when either (a) evicted cells never revive
    * (decommissioned warehouses, retired SKUs — the key-churn case that
    * actually grows state), or (b) the downstream sink merges updates
    * ADDITIVELY (the [[mergeBatchInto]] pattern), because a revived
    * cell's state restarts at zero and its updates become deltas against
    * the stored value. With NoTimeout ([[runningSnapshot]]) every update
    * is an absolute snapshot and no merge is needed — that is the
    * default; this variant is the 100 TB key-churn knob, paired with the
    * RocksDB state store (`spark.sql.streaming.stateStore.providerClass`
    * = RocksDBStateStoreProvider) once live state outgrows executor
    * heaps. StreamingSpec pins both: state rows drop after idle
    * eviction, and the ledger equivalence holds under RocksDB. */
  def runningSnapshotEvicting(
      movements: Dataset[Movement],
      idleTimeoutMs: Long): Dataset[CellUpdate] = {
    import movements.sparkSession.implicits._
    movements
      .groupByKey(m => (m.part_id, m.warehouse_id))
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.ProcessingTimeTimeout)(
        (key: (Long, Long), rows: Iterator[Movement],
         state: GroupState[(Double, Long)]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val update = fold(key, rows, state)
            state.setTimeoutDuration(idleTimeoutMs)
            Iterator(update)
          }
        })
  }

  /** T2 watermark policy on an event-time stream: reject future-dated
    * rows up front (the DQ rule F3) and declare a 1-day lateness grace —
    * the engine then bounds state for any windowed aggregate downstream. */
  def withValidWindow(movements: DataFrame, asOf: String): DataFrame =
    movements
      .filter(col("ts") <= to_timestamp(lit(asOf)))
      .withWatermark("ts", "1 day")

  /** A11's streaming twin: tumbling event-time daily windows over the
    * watermarked movement stream — the trend report maintained
    * incrementally instead of recomputed per run. The 1-day watermark is
    * the T2 late-data policy made executable: an event arriving after the
    * watermark passed its window is DROPPED by the engine (state for
    * closed windows is reclaimed — bounded state at any stream length),
    * which the unit test pins by replaying a too-late straggler. */
  def dailyTrend(movements: DataFrame): DataFrame =
    movements
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("quantity")).as("total_quantity"))
      .select(
        col("window.start").as("bucket"),
        col("n_events"), col("total_quantity"))

  /** Batch twin of [[dailyTrend]] (A11) for the equivalence test. */
  def batchDailyTrend(movements: DataFrame): DataFrame =
    movements
      .groupBy(date_trunc("day", col("ts")).as("bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("quantity")).as("total_quantity"))

  /** T2's quarantine side-output, streaming: every micro-batch fans out
    * by DQ disposition in one pass (SURVEY §2.9 T2 "the DQ quarantine
    * maps to a side output"). The batch twin is
    * [[graft.sources.Sinks.writeDqFanout]].
    *
    * Exactly-once is the SINK's job under `foreachBatch`, not the
    * checkpoint's: a replayed micro-batch (failure between the write
    * committing and the offset commit) must overwrite, not re-append.
    * Writing under a `batch_id=` partition with dynamic partition
    * overwrite makes the write idempotent — the replay replaces exactly
    * its own partitions and no others. */
  def dqFanoutStream(
      tagged: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    tagged.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id", "dq_issue")
          .parquet(path)
      }
      .start()

  /** One micro-batch of the daily trend-report sink: merge `batch` into
    * the report at `path` via [[graft.ops.Movement.mergeTrend]] unless this
    * batchId was already merged. Exactly-once without a sidecar: the
    * report carries a `_merged_through` batch-id column written
    * ATOMICALLY with the data (same parquet swap), so a replayed
    * micro-batch — failure between sink commit and offset commit — sees
    * its own id and skips; there is no window where data and progress
    * marker disagree. Returns whether a merge happened. */
  def mergeBatchInto(batch: DataFrame, batchId: Long, path: String): Boolean = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    graft.sources.Sinks.recoverSwap(fs, path)
    val stored0 =
      if (fs.exists(new org.apache.hadoop.fs.Path(path)))
        Some(spark.read.parquet(path))
      else None
    // Baseline (-1 = nothing merged) when the stored report is empty
    // (foreachBatch does fire zero-row first batches — max() is NULL) or
    // was seeded by the BATCH pipeline, which writes no `_merged_through`
    // column: a batch-written report is an un-merged baseline that every
    // batch id merges into, never a report that refuses all merges.
    val last = stored0
      .filter(_.columns.contains("_merged_through"))
      .map { df =>
        val row = df.agg(max(col("_merged_through"))).head
        if (row.isNullAt(0)) -1L else row.getLong(0)
      }
      .getOrElse(-1L)
    if (batchId <= last) return false
    // mergeTrend reads the report's own columns, its exact decimal twin
    // when it has one, and ignores `_merged_through`
    val stored = stored0.getOrElse {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("bucket", TimestampType),
          StructField("n_events", LongType),
          StructField("total_value", DoubleType))))
    }
    graft.sources.Sinks.overwriteInPlace(
      graft.ops.Movement.mergeTrend(stored, batch)
        .withColumn("_merged_through", lit(batchId)),
      path)
    true
  }

  /** T1's streaming twin: the daily-trend REPORT maintained continuously.
    * Each micro-batch folds into the stored gap-filled report through the
    * SAME merge+densify core as the batch incremental path
    * (`Pipeline.run` delta / q56) — one code path, two triggers. Unlike
    * the watermarked [[dailyTrend]], the merge sink is exact under ANY
    * lateness (the stored report is the state, so a straggler lands in
    * its true bucket); the trade is a report rewrite per micro-batch,
    * which calendar-bounded reports afford at any fact scale. */
  def trendReportStream(
      hotEvents: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    hotEvents.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatchInto(batch, batchId, path): Unit
      }
      .start()

  /** Batch replay twin (A14) used by the equivalence test. */
  def batchReplay(movements: Dataset[Movement]): DataFrame = {
    import movements.sparkSession.implicits._
    movements.toDF()
      .groupBy($"part_id", $"warehouse_id")
      .agg(
        sum($"quantity").as("quantity_on_hand"),
        count(lit(1)).as("n_movements"))
  }
}
