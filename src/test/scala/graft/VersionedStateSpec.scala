package graft.streaming

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** [[VersionedState]]: readers see only the version LATEST points at. */
class VersionedStateSpec extends AnyFunSuite {

  private def write(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir, "part"))
    Files.writeString(Paths.get(dir, "part", "f.parquet"), "x")
  }

  test("publish(n) repoints LATEST, deletes n-1; unpublished is never read") {
    val state = Files.createTempDirectory("graft_versioned_state").toString
    assert(VersionedState.latest(state).isEmpty)
    val v0 = VersionedState.versionDir(state, 0)
    write(v0)
    assert(VersionedState.latest(state).isEmpty,
      "a version written without its pointer swap must not be read")
    VersionedState.publish(state, 0)
    assert(VersionedState.latest(state).contains((v0, 0L)))
    val v1 = VersionedState.versionDir(state, 1)
    write(v1)
    assert(VersionedState.latest(state).contains((v0, 0L)))
    VersionedState.publish(state, 1)
    assert(VersionedState.latest(state).contains((v1, 1L)))
    assert(!Files.exists(Paths.get(v0)), s"superseded $v0 survived publish")
    assert(Files.isDirectory(Paths.get(v1)))
    assert(Files.list(Paths.get(state)).toArray.map(_.toString)
      .forall(p => !p.contains(".LATEST_")), "pointer temp file left behind")
    graft.LiveDirSlot.deleteLocalDir(state)
  }
}
