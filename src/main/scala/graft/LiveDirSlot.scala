package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._

/** One live scratch dir per operator per JVM, for operators whose work
  * includes writing an artifact (an index, a stored model, a sketch) that
  * their returned plan reads back. [[next]] creates a fresh temp dir with
  * `prefix` and deletes the one the previous call returned; a shutdown
  * hook deletes the last one when the JVM exits, so repeated runs never
  * accumulate copies under `java.io.tmpdir`.
  *
  * A DataFrame returned by an earlier call must be fully consumed before
  * the next call. Keep one slot per operator: two operators sharing a
  * slot would delete each other's dir under a still-lazy plan. */
private[graft] final class LiveDirSlot(prefix: String) {
  private val live = new AtomicReference[String](null)
  private lazy val reaper: Unit = {
    sys.addShutdownHook(Option(live.get).foreach(LiveDirSlot.deleteLocalDir))
    ()
  }

  def next(): String = {
    reaper
    val dir = Files.createTempDirectory(prefix).toString
    Option(live.getAndSet(dir)).foreach(LiveDirSlot.deleteLocalDir)
    dir
  }
}

private[graft] object LiveDirSlot {

  /** Delete `path` and everything under it, deepest first; a missing
    * path is a no-op. */
  def deleteLocalDir(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}
