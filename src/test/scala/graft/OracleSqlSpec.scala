package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every DuckDB-oracle SQL fragment is defined once and spliced where it
  * is needed, so a fix to a fragment cannot miss a copy. A copy shows as
  * a run of [[MinRun]] or more consecutive `stripMargin` lines (trimmed,
  * each starting with `|`) that appears, identical, in two places under
  * `src/main/scala`. */
class OracleSqlSpec extends AnyFunSuite {

  private val MinRun = 8

  test(s"no run of $MinRun stripMargin lines appears twice in src/main") {
    val root = SessionsSpec.mainSources
    // (file, 0-based first line) of every all-margin window, by its text
    val windows = (for {
      f <- SessionsSpec.mainScalaFiles
      lines = Files.readAllLines(f).asScala.map(_.trim).toIndexedSeq
      i <- 0 to lines.size - MinRun
      w = lines.slice(i, i + MinRun)
      if w.forall(_.startsWith("|"))
    } yield w -> (root.relativize(f).toString, i)).groupMap(_._1)(_._2)
    val copied: Set[(String, Int)] = windows.values.filter(_.size > 1)
      .flatten.flatMap { case (f, i) => (i until i + MinRun).map(f -> _) }
      .toSet
    // adjacent copied lines of one file merge into one reported region
    val regions = copied.groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      .flatMap { case (f, ls) =>
        ls.toSeq.sorted.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, l) if l == e + 1 => (s, l) :: rest
          case (acc, l) => (l, l) :: acc
        }.reverse.map { case (s, e) => s"$f:${s + 1}-${e + 1}" }
      }
    assert(regions.isEmpty,
      s"${regions.size} regions repeat oracle SQL; define the fragment " +
        s"once and splice it:\n${regions.mkString("\n")}")
  }
}
