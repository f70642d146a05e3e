package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Sessions]] is the only place `src/main` builds a SparkSession, so
  * every main runs on the same master, shuffle-partition, time-zone and
  * extension settings. */
class SessionsSpec extends AnyFunSuite {

  private val call = "SparkSession.builder()"

  /** `src/main/scala` of the checkout the suite runs in: the nearest
    * ancestor of the working directory that holds it. */
  private def mainSources: Path = {
    var d = Paths.get("").toAbsolutePath
    while (d != null && !Files.isDirectory(d.resolve("src/main/scala")))
      d = d.getParent
    assert(d != null, "no src/main/scala above the working directory")
    d.resolve("src/main/scala")
  }

  test("SparkSession.builder() appears only in Sessions.scala") {
    val files = Files.walk(mainSources).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val callers = files.filter(f => Files.readString(f).contains(call))
      .map(f => mainSources.relativize(f).toString).sorted
    assert(callers == List("graft/Sessions.scala"),
      s"$call outside Sessions.scala; route these through " +
        s"Sessions.builder(): ${callers.filterNot(_ == "graft/Sessions.scala")}")
  }
}
