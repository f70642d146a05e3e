package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

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
