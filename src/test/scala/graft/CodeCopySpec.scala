package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Every Spark-side plan fragment is defined once and called where it is
  * needed, so a fix to a fragment cannot miss a copy. A copy shows as a
  * run of [[MinRun]] consecutive code lines (trimmed) that appears,
  * identical, in two places under `src/main/scala`. Blank lines,
  * comments and `import`/`package` lines are stepped over; `|` margin
  * lines are oracle SQL, which [[OracleSqlSpec]] guards. */
class CodeCopySpec extends AnyFunSuite {

  private val MinRun = 6

  private def isCode(l: String): Boolean =
    l.nonEmpty && !Seq("//", "/*", "*", "import ", "package ", "|")
      .exists(l.startsWith)

  test(s"no run of $MinRun code lines appears twice in src/main") {
    val regions = OracleSqlSpec.copiedRegions(MinRun) { lines =>
      Seq(lines.zipWithIndex.collect { case (l, i) if isCode(l) => (i, l) })
    }
    assert(regions.isEmpty,
      s"${regions.size} regions repeat code; define the fragment once " +
        s"and call it:\n${regions.mkString("\n")}")
  }

  test("the exact probe cosine is spelled on one code line") {
    // a 3-line expression, under the run guard's length
    val cosine = """Dx.dotDec("q_emb", "embedding")"""
    val sites = for {
      f <- SessionsSpec.mainScalaFiles
      (l, i) <- Files.readAllLines(f).toArray(Array.empty[String]).zipWithIndex
      if isCode(l.trim) && l.contains(cosine)
    } yield s"${SessionsSpec.mainSources.relativize(f)}:${i + 1}"
    assert(sites.size == 1,
      s"$cosine on ${sites.size} code lines; call Ann.exactCosine:\n" +
        sites.mkString("\n"))
  }
}
