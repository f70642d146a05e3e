package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Every main picks its registered queries through [[SparkEntry.select]]:
  * names match exactly, and a selection that matches nothing it names
  * fails instead of running (and passing) zero queries. */
class SparkEntrySpec extends AnyFunSuite {

  private val names = SparkEntry.registry.map(_.name)

  test("select: none is the whole registry; names select exactly, in registry order") {
    assert(SparkEntry.select(None).map(_.name) == names)
    assert(SparkEntry.select(Some(s" ${names(5)} , ${names(2)},"))
      .map(_.name) == Seq(names(2), names(5)))
  }

  test("select: an unknown name, a bare prefix or an empty list fails by name") {
    val typo = intercept[IllegalArgumentException](
      SparkEntry.select(Some(s"${names.head},q999_not_registered")))
    assert(typo.getMessage.contains("q999_not_registered"), typo.getMessage)
    assert(!typo.getMessage.contains(names.head), typo.getMessage)
    // "q5" prefixes q53–q58 but names none of them
    assert(names.exists(_.startsWith("q5")) && !names.contains("q5"))
    intercept[IllegalArgumentException](SparkEntry.select(Some("q5")))
    Seq("", " , ").foreach { spec =>
      val empty = intercept[IllegalArgumentException](SparkEntry.select(Some(spec)))
      assert(empty.getMessage.contains("empty query selection"), empty.getMessage)
    }
  }

  test("every main selects queries through SparkEntry.select") {
    val mains = Seq("Bench", "Verify", "Explain", "HashCheck", "ProfileQuery")
      .map(m => s"graft/$m.scala")
    mains.foreach { m =>
      assert(Files.readString(SessionsSpec.mainSources.resolve(m))
        .contains("SparkEntry.select("), m)
    }
    val hits = SessionsSpec.codeHits(
      """registry\s*\.\s*find|SparkEntry\.queries""".r,
      p => mains.contains(p.toString))
    assert(hits.isEmpty, s"a main looks queries up by name itself:\n" +
      hits.mkString("\n"))
  }
}
