package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** [[LiveDirSlot]] keeps one live scratch dir per slot. */
class LiveDirSlotSpec extends AnyFunSuite {

  test("next() deletes the previous dir and keeps the new one") {
    val slot = new LiveDirSlot("graft_livedirslot_spec")
    val first = slot.next()
    Files.createDirectories(Paths.get(first, "part", "nested"))
    Files.writeString(Paths.get(first, "part", "nested", "f.parquet"), "x")
    val second = slot.next()
    assert(first != second)
    assert(!Files.exists(Paths.get(first)), s"$first survived next()")
    assert(Files.isDirectory(Paths.get(second)))
    LiveDirSlot.deleteLocalDir(second)
    assert(!Files.exists(Paths.get(second)))
  }
}
