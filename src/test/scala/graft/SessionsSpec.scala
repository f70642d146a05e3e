package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** [[Sessions]] is the only place `src/main` builds a SparkSession, so
  * every main runs on the same master, shuffle-partition, time-zone and
  * extension settings. */
class SessionsSpec extends AnyFunSuite {

  import SessionsSpec.{mainScalaFiles, mainSources}

  private val call = "SparkSession.builder()"

  test("SparkSession.builder() appears only in Sessions.scala") {
    val callers = mainScalaFiles.filter(f => Files.readString(f).contains(call))
      .map(f => mainSources.relativize(f).toString).sorted
    assert(callers == List("graft/Sessions.scala"),
      s"$call outside Sessions.scala; route these through " +
        s"Sessions.builder(): ${callers.filterNot(_ == "graft/Sessions.scala")}")
  }

  test("operators, streaming maintainers and sinks print nothing") {
    // they report through their return values and Metrics; a console line
    // from library code reaches every embedding application's stderr
    val hits = SessionsSpec.codeHits("""System\.(err|out)|\bprint(ln|f)?\(""".r,
      p => Seq("graft/ops", "graft/streaming", "graft/sources")
        .exists(d => p.startsWith(d)))
    assert(hits.isEmpty, s"${hits.size} code lines print:\n" +
      hits.mkString("\n"))
  }
}

object SessionsSpec {

  /** `src/main/scala` of the checkout the suite runs in: the nearest
    * ancestor of the working directory that holds it. */
  def mainSources: Path = {
    var d = Paths.get("").toAbsolutePath
    while (d != null && !Files.isDirectory(d.resolve("src/main/scala")))
      d = d.getParent
    assert(d != null, "no src/main/scala above the working directory")
    d.resolve("src/main/scala")
  }

  /** Every `.scala` file under [[mainSources]], in path order. */
  def mainScalaFiles: List[Path] =
    Files.walk(mainSources).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList.sorted

  /** The code lines (comment lines stepped over) of the
    * [[mainScalaFiles]] whose path relative to [[mainSources]] passes
    * `scan` and that `pattern` matches, as `path:line: text`. */
  def codeHits(pattern: Regex, scan: Path => Boolean): List[String] = {
    val root = mainSources
    for {
      f <- mainScalaFiles
      rel = root.relativize(f)
      if scan(rel)
      (line, i) <- Files.readAllLines(f).asScala.toList.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("/*") || t.startsWith("//"))
      if pattern.findFirstIn(line).isDefined
    } yield s"$rel:${i + 1}: $t"
  }
}
