package graft

import graft.ops.Events

class EventsSpec extends SparkSpec {

  private def ev(id: Long, t: String, user: Long, typ: String,
      value: Double = 1.0): Ev =
    Ev(id, ts(t), user, typ, value, "{}")

  test("sessionize: 30-min gap splits sessions; totals exact") {
    import spark.implicits._
    val dir = fixtureDir("events" -> Seq(
      ev(1, "2024-01-01 10:00:00", 7, "view", 1.5),
      ev(2, "2024-01-01 10:29:00", 7, "click", 2.5), // 29 min → same session
      ev(3, "2024-01-01 11:00:00", 7, "view", 4.0), // 31 min → new session
      ev(4, "2024-01-01 10:00:00", 8, "view", 1.0) // other user independent
    ).toDF)
    val r = Events.sessionize(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(4), x.getDouble(5)))
    assert(r.toSeq == Seq((7L, 1L, 2L, 4.0), (7L, 2L, 1L, 4.0),
      (8L, 1L, 1L, 1.0)))
  }

  test("sessionize: exactly-30-min gap stays in session (strict > splits)") {
    import spark.implicits._
    val dir = fixtureDir("events" -> Seq(
      ev(1, "2024-01-01 10:00:00", 7, "view"),
      ev(2, "2024-01-01 10:30:00", 7, "view")).toDF)
    val r = Events.sessionize(spark, dir).collect()
    assert(r.length == 1 && r.head.getLong(4) == 2L)
  }

  test("asof attribution: latest prior touch wins; same-instant touch counts") {
    import spark.implicits._
    val dir = fixtureDir("events" -> Seq(
      ev(1, "2024-01-01 09:00:00", 7, "view"),
      ev(2, "2024-01-01 09:30:00", 7, "click"),
      ev(3, "2024-01-01 10:00:00", 7, "purchase"), // → click (id 2)
      ev(4, "2024-01-01 11:00:00", 7, "view"),
      ev(5, "2024-01-01 11:00:00", 7, "purchase"), // same instant → view (id 4)
      ev(6, "2024-01-01 08:00:00", 8, "purchase"), // no touch → null
      ev(7, "2024-01-01 09:00:00", 8, "error") // non-touch type ignored
    ).toDF)
    val r = Events.asofAttribution(spark, dir).collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    assert(byId(3L).getLong(3) == 2L)
    assert(byId(3L).getAs[Long]("touch_gap_us") == 1800L * 1000000L)
    assert(byId(5L).getLong(3) == 4L)
    assert(byId(5L).getAs[Long]("touch_gap_us") == 0L)
    assert(byId(6L).isNullAt(3))
  }

  test("asof attribution ≡ brute-force max-prior-touch on random streams") {
    import spark.implicits._
    // adversarial check of the union+window trick against the obvious
    // O(n·m) formulation on a pseudo-random fixture (fixed seed)
    val rnd = new scala.util.Random(42)
    val types = Seq("view", "click", "purchase", "error")
    val evs = (1L to 300L).map { id =>
      ev(id, f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00",
        rnd.nextInt(5).toLong, types(rnd.nextInt(types.size)))
    }
    val dir = fixtureDir("events" -> evs.toDF)
    val got = graft.ops.Events.asofAttribution(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // brute force: per purchase, the max (ts, tag=0<1 at equal ts, id)
    // touch at or before it
    val touches = evs.filter(e => e.event_type != "purchase" &&
      e.event_type != "error")
    val want = evs.filter(_.event_type == "purchase").map { p =>
      val prior = touches.filter(t => t.user_id == p.user_id &&
        !t.ts.after(p.ts))
      p.event_id -> (if (prior.isEmpty) -1L
      else prior.maxBy(t => (t.ts.getTime, t.event_id)).event_id)
    }.toMap
    assert(got == want)
  }

  test("sessionize ≡ sequential per-user fold on random streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val evs = (1L to 400L).map { id =>
      // minute-granularity times cluster gaps around the 30-min boundary
      ev(id, f"2024-01-01 ${rnd.nextInt(48) / 2}%02d:${rnd.nextInt(60)}%02d:00",
        rnd.nextInt(6).toLong, "view", value = rnd.nextInt(10).toDouble)
    }
    val dir = fixtureDir("events" -> evs.toDF)
    val got = graft.ops.Events.sessionize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(4), r.getDouble(5)))
      .toMap
    // reference model: walk each user's (ts, id)-sorted events, cut where
    // the gap exceeds the threshold, fold counts and sums
    val want = evs.groupBy(_.user_id).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
      val sessions = sorted.foldLeft(List.empty[List[Ev]]) {
        case (Nil, e) => List(List(e))
        case (cur :: done, e) =>
          val gapUs = (e.ts.getTime - cur.head.ts.getTime) * 1000L
          if (gapUs > graft.ops.Events.SESSION_GAP_US) List(e) :: cur :: done
          else (e :: cur) :: done
      }.reverse.map(_.reverse)
      sessions.zipWithIndex.map { case (s, i) =>
        (u, (i + 1).toLong) -> (s.size.toLong, s.map(_.value).sum)
      }
    }
    assert(got == want)
  }

  test("props extraction: aggregates and missing-payload accounting") {
    import spark.implicits._
    val dir = fixtureDir("events" -> Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 7, "view", 1.0, """{"k": 10}"""),
      Ev(2, ts("2024-01-01 10:01:00"), 7, "view", 1.0, """{"k": 32}"""),
      Ev(3, ts("2024-01-01 10:02:00"), 7, "view", 1.0, """{"other": 1}"""),
      Ev(4, ts("2024-01-01 10:03:00"), 7, "click", 1.0, "not json")).toDF)
    val r = graft.ops.Events.propsExtract(spark, dir).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("view").getAs[Long]("n_events") == 3L)
    assert(r("view").getAs[Long]("n_missing") == 1L)
    assert(r("view").getAs[Long]("total_k") == 42L)
    assert(r("view").getAs[Double]("avg_k") == 21.0)
    assert(r("click").getAs[Long]("n_missing") == 1L)
    assert(r("click").isNullAt(r("click").fieldIndex("total_k")))
  }

  test("moving average: RANGE frame spans calendar days across a gap") {
    import spark.implicits._
    // Jan 1: 2 events, Jan 2: 4, Jan 10: 6 — Jan 10's 7-day frame
    // [Jan 4..Jan 10] contains ONLY Jan 10 (the gap days contribute
    // nothing and the divisor is the frame's real row count)
    val dir = fixtureDir("events" -> Seq(
      ev(1, "2024-01-01 10:00:00", 1, "view"),
      ev(2, "2024-01-01 11:00:00", 1, "view"),
      ev(3, "2024-01-02 10:00:00", 1, "view"),
      ev(4, "2024-01-02 11:00:00", 2, "view"),
      ev(5, "2024-01-02 12:00:00", 2, "view"),
      ev(6, "2024-01-02 13:00:00", 2, "view"),
      ev(7, "2024-01-10 10:00:00", 3, "view")).toDF)
    val r = graft.ops.Events.dailyMovingAvg(spark, dir).collect()
      .map(x => x.getTimestamp(0).toString.substring(0, 10) -> x.getDouble(2)).toMap
    assert(r("2024-01-01") == 2.0)
    assert(r("2024-01-02") == 3.0) // (2+4)/2
    assert(r("2024-01-10") == 1.0) // frame excludes Jan 1-2 → only itself
  }

  test("both operators shuffle once, keyed by user") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def shuffles(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case s: ShuffleExchangeLike => 1 + s.children.map(shuffles).sum
      case other => other.children.map(shuffles).sum
    }
    import spark.implicits._
    val dir = fixtureDir("events" -> Seq(
      ev(1, "2024-01-01 09:00:00", 7, "view"),
      ev(2, "2024-01-01 10:00:00", 7, "purchase")).toDF)
    val asof = Events.asofAttribution(spark, dir)
    asof.collect()
    // asof: one exchange for the user window + the presentation sort.
    assert(shuffles(asof.queryExecution.executedPlan) <= 2,
      asof.queryExecution.executedPlan.toString)
    val sess = Events.sessionize(spark, dir)
    sess.collect()
    // sessionize: window exchange; the groupBy reuses the partitioning
    // only when keys align — allow it plus the presentation sort.
    assert(shuffles(sess.queryExecution.executedPlan) <= 3,
      sess.queryExecution.executedPlan.toString)
  }

  test("retention cohorts: triangular table, same-week dedup, mid-week truncation") {
    import spark.implicits._
    // 2024-01-01 is a Monday: wk0=01-01, wk1=01-08, wk2=01-15
    val dir = fixtureDir("events" -> Seq(
      ev(1, "2024-01-01 10:00:00", 1, "view"),
      ev(2, "2024-01-03 12:00:00", 1, "click"), // Wednesday → still wk0
      ev(3, "2024-01-08 10:00:00", 1, "view"), // wk1
      ev(4, "2024-01-15 10:00:00", 1, "view"), // wk2
      ev(5, "2024-01-01 09:00:00", 2, "view"), // cohort wk0
      ev(6, "2024-01-17 09:00:00", 2, "view"), // wk2, skipped wk1
      ev(7, "2024-01-10 09:00:00", 3, "view") // cohort wk1
    ).toDF)
    val r = Events.retentionCohorts(spark, dir).collect()
      .map(x => (x.getTimestamp(0).toString.take(10), x.getLong(1),
        x.getLong(2), x.getLong(3), x.getDouble(4)))
    assert(r.toSeq == Seq(
      ("2024-01-01", 0L, 2L, 2L, 1.0),
      ("2024-01-01", 1L, 1L, 2L, 0.5),
      ("2024-01-01", 2L, 2L, 2L, 1.0),
      ("2024-01-08", 0L, 1L, 1L, 1.0)))
  }

  test("funnel: stage order enforced; pre-view clicks and pre-click purchases don't count") {
    import spark.implicits._
    val dir = fixtureDir("events" -> Seq(
      // user 7: clean full funnel, 5 min between stages
      ev(1, "2024-01-01 10:00:00", 7, "view"),
      ev(2, "2024-01-01 10:05:00", 7, "click"),
      ev(3, "2024-01-01 10:10:00", 7, "purchase"),
      // user 8: click BEFORE the first view → stage 2 never reached, so
      // the later purchase can't count either (ordered funnel, not
      // did-all-three)
      ev(4, "2024-01-01 09:00:00", 8, "click"),
      ev(5, "2024-01-01 09:30:00", 8, "view"),
      ev(6, "2024-01-01 09:45:00", 8, "purchase"),
      // user 9: purchase only → counted in n_users alone
      ev(7, "2024-01-01 08:00:00", 9, "purchase"),
      // user 10: same-instant click qualifies (>= semantics); purchase
      // BEFORE the click does not
      ev(8, "2024-01-01 12:00:00", 10, "view"),
      ev(9, "2024-01-01 12:00:00", 10, "click"),
      ev(10, "2024-01-01 11:00:00", 10, "purchase")).toDF)
    val r = Events.eventFunnel(spark, dir).collect()
    assert(r.length == 1)
    val x = r.head
    assert(x.getLong(0) == 4L) // n_users
    assert(x.getLong(1) == 3L) // n_viewed: 7, 8, 10
    assert(x.getLong(2) == 2L) // n_clicked: 7, 10
    assert(x.getLong(3) == 1L) // n_purchased: 7 only
    assert(x.getLong(4) == 300L * 1000000L) // 7's 5 min + 10's 0
    assert(x.getLong(5) == 300L * 1000000L) // 7's 5 min
    assert(x.getDouble(6) == 150.0 * 1000000L) // 300e6 / 2 clicks
    assert(x.getDouble(7) == 300.0 * 1000000L)
  }

  test("session transitions: within-session pairs only, exact shares") {
    import spark.implicits._
    val dir = fixtureDir("events" -> Seq(
      // user 7, session 1: view→click→purchase (2 transitions)
      ev(1, "2024-01-01 10:00:00", 7, "view"),
      ev(2, "2024-01-01 10:05:00", 7, "click"),
      ev(3, "2024-01-01 10:10:00", 7, "purchase", 5.0),
      // >30 min gap → session 2: view→view; the purchase→view pair
      // straddles the boundary and must NOT count
      ev(4, "2024-01-01 11:00:00", 7, "view"),
      ev(5, "2024-01-01 11:05:00", 7, "view"),
      // user 8: single event → no transitions
      ev(6, "2024-01-01 10:00:00", 8, "click")).toDF)
    val r = graft.ops.Events.sessionTransitions(spark, dir).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getDouble(3))).toSeq
    assert(r == Seq(
      ("click", "purchase", 1L, 1.0 / 3),
      ("view", "click", 1L, 1.0 / 3),
      ("view", "view", 1L, 1.0 / 3)))
  }

  test("trend outliers: gap zeros count, exact moment chain, 2-sigma cut") {
    import spark.implicits._
    // hot purchases (value >= 150) on days 1,2,3 (x1) and day 7 (x9);
    // gap-fill makes the series [1,1,1,0,0,0,9]: mean 12/7, the z of the
    // spike ~2.42 (> 2), everything else inside the band.
    val evs = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "purchase", 200.0),
      ev(2, "2024-01-02 10:00:00", 1, "purchase", 200.0),
      ev(3, "2024-01-03 10:00:00", 2, "purchase", 200.0),
      // a low-value purchase and a view must NOT count as hot
      ev(4, "2024-01-05 10:00:00", 2, "purchase", 10.0),
      ev(5, "2024-01-05 11:00:00", 2, "view", 500.0)) ++
      (10 to 18).map(i => ev(i.toLong, f"2024-01-07 ${i}%02d:00:00", 3,
        "purchase", 200.0))
    val dir = fixtureDir("events" -> evs.toDF)
    val out = graft.ops.Movement.trendOutliers(spark, dir).collect()
    assert(out.length == 1)
    val row = out.head
    assert(row.getTimestamp(0).toString.startsWith("2024-01-07"))
    assert(row.getLong(1) == 9L)
    val mean = 12.0 / 7
    val sd = math.sqrt((84.0 - 12.0 * 12 / 7) / 7)
    assert(row.getDouble(2) == mean)
    assert(row.getDouble(3) == sd)
    assert(row.getDouble(4) == (9.0 - mean) / sd)
  }

  test("incremental anomaly monitoring: outliers over the merged delta ≡ full") {
    import graft.ops.Movement
    import spark.implicits._
    // same series as above, checkpointed mid-stream: the stored report is
    // what a previous run wrote from events <= Jan 4; the delta merge must
    // feed the scoring core the identical gap-filled frame
    val evs = Seq(
      ev(1, "2024-01-01 10:00:00", 1, "purchase", 200.0),
      ev(2, "2024-01-02 10:00:00", 1, "purchase", 200.0),
      ev(3, "2024-01-03 10:00:00", 2, "purchase", 200.0)) ++
      (10 to 18).map(i => ev(i.toLong, f"2024-01-07 ${i}%02d:00:00", 3,
        "purchase", 200.0))
    val dir = fixtureDir("events" -> evs.toDF)
    val cp = "2024-01-04 00:00:00"
    val stored = Movement.trendUntil(spark, dir, cp)
    val merged = Movement.trendDelta(spark, dir, cp, stored)
    val inc = Movement.outliersOf(merged).collect().map(_.toSeq)
    val full = Movement.trendOutliers(spark, dir).collect().map(_.toSeq)
    assert(inc.nonEmpty && inc.toSeq == full.toSeq)
  }
}
