package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own pure logic: report attribution, span self time
  * and the canonical digest. */
class HarnessSpec extends AnyFunSuite {

  test("attribution: write target wins, staging and old dirs fold onto the report") {
    val out = "/w/run-3"
    assert(Attribution.attribute(out, Some("file:/w/run-3/daily_trends"),
      Seq("file:/d/events.parquet")).contains("daily_trends"))
    assert(Attribution.attribute(out, Some("file:///w/run-3/daily_trends.staging"),
      Seq("file:/w/run-3/daily_trends")).contains("daily_trends"))
    assert(Attribution.reportOf(out, "/w/run-3/weekly_trends.old/part-0")
      .contains("weekly_trends"))
    // partitioned writes attribute to the report, not the partition
    assert(Attribution.reportOf(out, "/w/run-3/dq_events/dq_issue=valid")
      .contains("dq_events"))
  }

  test("attribution: read-backs by their scan, inputs and lookalikes excluded") {
    val out = "/w/run-3"
    assert(Attribution.attribute(out, None, Seq("file:/w/run-3/peak_month"))
      .contains("peak_month"))
    // a sibling whose name shares the prefix is not under the output
    assert(Attribution.attribute(out, None, Seq("/w/run-30/peak_month")).isEmpty)
    assert(Attribution.attribute(out, None, Seq("/d/events.parquet")).isEmpty)
    assert(Attribution.reportOf(out, "/w/run-3/").isEmpty)
  }

  test("attribution: the same action maps the same way under any action order") {
    val out = "/w/o"
    val actions = Seq(
      (Some("/w/o/a"), Seq("/d/lineitem.parquet")),
      (None, Seq("/w/o/a")),
      (Some("/w/o/b.staging"), Seq("/w/o/b", "/d/events.parquet")))
    val fwd = actions.map { case (w, r) => Attribution.attribute(out, w, r) }
    val rev = actions.reverse.map { case (w, r) => Attribution.attribute(out, w, r) }
    assert(fwd == rev.reverse && fwd == Seq(Some("a"), Some("a"), Some("b")))
  }

  test("input tables from scan roots") {
    assert(Attribution.tableOf("/d", "file:/d/lineitem.parquet").contains("lineitem"))
    assert(Attribution.tableOf("/d/", "/d/events.parquet/part-1.parquet")
      .contains("events"))
    assert(Attribution.tableOf("/d", "/w/o/daily_trends").isEmpty)
  }

  test("digest: order-insensitive multiset, delimited fields, plain decimals") {
    val a = Seq(Seq(1, "x"), Seq(2, null))
    val lines = a.map(Digest.render)
    assert(Digest.ofLines(lines) == Digest.ofLines(lines.reverse))
    // duplicates count
    assert(Digest.ofLines(lines :+ lines.head)._2 != Digest.ofLines(lines)._2)
    // a field-boundary shift changes the digest
    assert(Digest.render(Seq("12", "3")) != Digest.render(Seq("1", "23")))
    assert(Digest.render(Seq(new java.math.BigDecimal("1E+3"))) == "1000")
    assert(Digest.render(Seq(null)) == "∅")
  }

  test("span self time: children's union is subtracted once, clipped to the span") {
    assert(Tracer.selfMs(0, 100, Nil) == 100)
    assert(Tracer.selfMs(0, 100, Seq((10, 30), (20, 40))) == 70)
    assert(Tracer.selfMs(0, 100, Seq((-5, 10), (90, 120))) == 80)
    assert(Tracer.selfMs(0, 100, Seq((0, 100), (10, 20))) == 0)
  }
}
