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

  private val MinRun = 6

  test(s"no run of $MinRun stripMargin lines appears twice in src/main") {
    // each maximal block of consecutive margin lines is one segment
    val regions = OracleSqlSpec.copiedRegions(MinRun) { lines =>
      lines.zipWithIndex.map { case (l, i) => (i, l) }
        .foldRight(List.empty[List[(Int, String)]]) {
          case (m @ (i, l), (seg @ ((j, _) :: _)) :: rest)
              if l.startsWith("|") && j == i + 1 => (m :: seg) :: rest
          case (m @ (_, l), segs) if l.startsWith("|") => List(m) :: segs
          case (_, segs) => segs
        }
    }
    assert(regions.isEmpty,
      s"${regions.size} regions repeat oracle SQL; define the fragment " +
        s"once and splice it:\n${regions.mkString("\n")}")
  }
}

object OracleSqlSpec {

  /** The copied regions of `src/main/scala`, as `file:first-last`
    * (1-based lines). `segments` cuts a file's trimmed lines into
    * segments of (0-based line, text); a copy is a window of `minRun`
    * consecutive entries of one segment whose texts appear, identical,
    * at another place. Copied entries adjacent within a segment merge
    * into one region. */
  def copiedRegions(minRun: Int)(
      segments: IndexedSeq[String] => Seq[Seq[(Int, String)]]): Seq[String] = {
    val root = SessionsSpec.mainSources
    // one entry per line of a segment: (file, segment, position, line)
    val windows = (for {
      f <- SessionsSpec.mainScalaFiles
      (seg, s) <- segments(Files.readAllLines(f).asScala.map(_.trim)
        .toIndexedSeq).zipWithIndex
      w <- seg.zipWithIndex.sliding(minRun) if w.size == minRun
    } yield w.map(_._1._2) ->
      w.map { case ((line, _), p) => (root.relativize(f).toString, s, p, line) })
      .groupMap(_._1)(_._2)
    val copied = windows.values.filter(_.size > 1).flatten.flatten.toSet
    copied.toSeq.sortBy { case (f, s, p, _) => (f, s, p) }
      .foldLeft(List.empty[((String, Int, Int, Int), (String, Int, Int, Int))]) {
        case ((first, (f, s, p, _)) :: rest, e @ (f2, s2, p2, _))
            if f == f2 && s == s2 && p2 == p + 1 => (first, e) :: rest
        case (acc, e) => (e, e) :: acc
      }.reverse.map { case ((f, _, _, a), (_, _, _, b)) => s"$f:${a + 1}-${b + 1}" }
  }
}
