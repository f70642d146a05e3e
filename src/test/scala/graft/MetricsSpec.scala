package graft

import org.apache.spark.sql.ListenerCounts

/** [[Metrics]] is the one recorder the measuring mains run a query
  * through: each run sees only its own stages and plan, and the recorder
  * keeps one listener of each kind however many runs it serves. */
class MetricsSpec extends SparkSpec {

  test("back-to-back runs each see only their own stages") {
    val a = Metrics.run(spark)(spark.range(0, 1000, 1, 4).repartition(3)
      .selectExpr("sum(id) AS s"))
    val b = Metrics.run(spark)(
      spark.range(0, 1000, 1, 2).selectExpr("id * 2 AS x"))
    assert(a.stages.size >= 2 && a.stages.exists(_.tasks == 4), a.stages)
    assert(b.stages.map(_.tasks) == Seq(2), b.stages)
    assert(a.stages.map(_.id).max < b.stages.map(_.id).min)
    assert(a.wallSec > 0 && b.wallSec > 0 && a.gcMs >= 0)
  }

  test("shuffle bytes: > 0 across an exchange, 0 for a scan-only frame") {
    val dir = fixtureDir("t" -> spark.range(0, 500).toDF("id"))
    val ex = Metrics.run(spark)(
      spark.read.parquet(s"$dir/t.parquet").repartition(3))
    assert(ex.shuffleRead > 0 && ex.shuffleWrite > 0, ex.stages)
    val scan = Metrics.run(spark)(spark.read.parquet(s"$dir/t.parquet"))
    assert(scan.shuffleRead == 0 && scan.shuffleWrite == 0, scan.stages)
    assert(scan.stages.map(_.inRows).sum == 500, scan.stages)
    assert(PlanScans.scans(scan.plan).size == 1, scan.plan)
  }

  test("a failing frame rethrows and none of its stages reach the next run") {
    val e = intercept[Throwable](Metrics.run(spark)(spark.range(0, 10, 1, 5)
      .selectExpr("assert_true(id < 5, 'metrics-spec failure') AS ok")))
    var root = e
    while (root.getCause != null) root = root.getCause
    assert(root.getMessage.contains("metrics-spec failure"), e)
    val next = Metrics.run(spark)(spark.range(0, 10, 1, 3).toDF())
    assert(next.stages.map(_.tasks) == Seq(3), next.stages)
    assert(PlanScans.scans(next.plan).isEmpty && next.plan != null)
  }

  test("many runs keep one listener of each kind") {
    (1 to 12).foreach(i =>
      Metrics.run(spark)(spark.range(0, i, 1, 1).toDF()))
    val ours = (n: String) => n.startsWith("graft.Metrics$")
    assert(ListenerCounts.sparkListeners(spark).count(ours) == 1,
      ListenerCounts.sparkListeners(spark))
    assert(ListenerCounts.queryListeners(spark).count(ours) == 1,
      ListenerCounts.queryListeners(spark))
  }

  test("only Metrics.scala adds a listener, drains the bus or writes noop") {
    val hits = SessionsSpec.codeHits(MetricsSpec.Recorder,
      _.toString != "graft/Metrics.scala")
    if (hits.nonEmpty) fail(s"${hits.size} code lines measure a query " +
      "outside Metrics; route them through graft.Metrics.run:\n" +
      hits.mkString("\n"))
  }
}

object MetricsSpec {
  /** A listener registration, a listener-bus drain call, or the noop sink. */
  val Recorder =
    """addSparkListener|listenerManager\.register|\.drainListenerBus|format\("noop"\)""".r
}
