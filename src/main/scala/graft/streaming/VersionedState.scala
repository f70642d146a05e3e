package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Versioned-dir state behind an atomic LATEST pointer: the publication
  * protocol of the streaming writers whose state is a plain parquet dir
  * rewritten per batch ([[StreamingCap]], [[StreamingReservoir]],
  * [[StreamingNbModel]]).
  *
  * Batch n writes its whole state into [[versionDir]]`(stateDir, n)`,
  * then [[publish]] replaces the LATEST pointer file with one atomic
  * rename and deletes the version it superseded. Readers resolve the
  * state through [[latest]] only, so a crash at any point leaves them on
  * the previous consistent version: a version dir written without its
  * pointer swap is never read, and a replayed batch overwrites it.
  *
  * [[maintain]] is the one maintain loop of the single-frame states
  * (cap keep list, reservoir): read the published state, merge the
  * micro-batch, write its version, publish. Each writer brings its own
  * merge and empty schema. [[StreamingNbModel]] keeps its own loop: its
  * two-frame state and batch-id fence do not fit this shape.
  */
private[streaming] object VersionedState {

  private def version(batchId: Long): String = s"state_v$batchId"

  /** Where batch `batchId` writes its state before [[publish]]. */
  def versionDir(stateDir: String, batchId: Long): String =
    s"$stateDir/${version(batchId)}"

  /** The published state's dir and batch id, or None before the first
    * publish. */
  def latest(stateDir: String): Option[(String, Long)] = {
    val ptr = Paths.get(stateDir, "LATEST")
    if (!Files.exists(ptr)) None
    else {
      val v = new String(Files.readAllBytes(ptr), "UTF-8").trim
      Some((s"$stateDir/$v", v.stripPrefix("state_v").toLong))
    }
  }

  /** The published single-frame state at `stateDir`, or `empty` before
    * the first publish. */
  def readLatest(spark: SparkSession, stateDir: String)(
      empty: => DataFrame): DataFrame =
    latest(stateDir).fold(empty)(v => spark.read.parquet(v._1))

  /** The maintain loop: each micro-batch of `arrivals` is merged into
    * the state `read` returns, written as the batch's version and
    * published. It needs no batch-id fence only because `merge` is
    * idempotent — merge(merge(S, B), B) = merge(S, B) — so a batch that
    * `foreachBatch` re-delivers rewrites the same version. */
  def maintain(arrivals: DataFrame, stateDir: String)(
      read: (SparkSession, String) => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): DataStreamWriter[Row] =
    arrivals.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        merge(read(batch.sparkSession, stateDir), batch)
          .write.mode("overwrite")
          .parquet(versionDir(stateDir, batchId))
        publish(stateDir, batchId)
      }

  /** Point LATEST at batch `batchId`'s fully written version, then delete
    * the version it superseded (best effort: a failed delete leaves
    * garbage, never bad state). */
  def publish(stateDir: String, batchId: Long): Unit = {
    val prev = latest(stateDir)
    val tmp = Paths.get(stateDir, s".LATEST_$batchId")
    Files.write(tmp, version(batchId).getBytes("UTF-8"))
    Files.move(tmp, Paths.get(stateDir, "LATEST"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    prev.map(_._1).filter(_ != versionDir(stateDir, batchId))
      .foreach(graft.LiveDirSlot.deleteLocalDir)
  }
}
