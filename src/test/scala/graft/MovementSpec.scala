package graft

import java.time.{DayOfWeek, LocalDate}
import java.time.temporal.TemporalAdjusters

import graft.ops.Movement

/** The weekly and monthly calendars are roll-ups of the gap-filled daily
  * calendar ([[Movement.rollUp]]). Each must equal the gap-filled
  * calendar of its own unit, aggregated here directly from the hot
  * events, on fixtures sparse enough to leave whole weeks and months
  * without a hot event inside the range. */
class MovementSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, typ: String, value: Double): Ev =
    Ev(id, ts(t), 1L, typ, value, "{}")

  /** The start of the `unit` ("week": ISO Monday, "month": the 1st)
    * holding day `d`, and the start of the next one. */
  private def start(unit: String, d: LocalDate): LocalDate =
    if (unit == "week") d.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
    else d.withDayOfMonth(1)
  private def next(unit: String, d: LocalDate): LocalDate =
    if (unit == "week") d.plusWeeks(1) else d.plusMonths(1)

  /** The gap-filled `unit` calendar of the hot events (purchases of value
    * ≥ 150): every bucket from the first hot event's to the last one's,
    * with its event count and exact value sum. */
  private def direct(evs: Seq[Ev], unit: String): Seq[(LocalDate, Long, BigDecimal)] = {
    val hot = evs.filter(e => e.event_type == "purchase" && e.value >= 150.0)
      .groupBy(e => start(unit, e.ts.toLocalDateTime.toLocalDate))
    if (hot.isEmpty) Nil
    else {
      val last = hot.keys.maxBy(_.toEpochDay)
      Iterator.iterate(hot.keys.minBy(_.toEpochDay))(next(unit, _))
        .takeWhile(!_.isAfter(last))
        .map { b =>
          val in = hot.getOrElse(b, Nil)
          (b, in.size.toLong, in.map(e => BigDecimal(e.value)).sum)
        }.toSeq
    }
  }

  /** `rollUp(trend, unit)` over `evs`, checked to keep the daily frame's
    * columns, types and bucket order, as (bucket day, count, value). */
  private def rolledUp(evs: Seq[Ev], unit: String): Seq[(LocalDate, Long, BigDecimal)] = {
    val daily = Movement.trend(spark, fixtureDir("events" -> evs.toDF))
    val rolled = Movement.rollUp(daily, unit)
    assert(rolled.schema.map(f => (f.name, f.dataType)) ==
      daily.schema.map(f => (f.name, f.dataType)), unit)
    val rows = rolled.collect().toSeq
    rows.foreach { r =>
      assert(r.getAs[Double]("total_value") ==
        r.getAs[java.math.BigDecimal]("total_value_dec").doubleValue, unit)
    }
    val got = rows.map(r => (
      r.getAs[java.sql.Timestamp]("bucket").toLocalDateTime.toLocalDate,
      r.getAs[Long]("n_events"),
      BigDecimal(r.getAs[java.math.BigDecimal]("total_value_dec"))))
    assert(got.map(_._1) == got.map(_._1).sortBy(_.toEpochDay), unit)
    got
  }

  private def assertRollUps(evs: Seq[Ev]): Unit =
    Seq("week", "month").foreach { unit =>
      assert(rolledUp(evs, unit) == direct(evs, unit), unit)
    }

  test("rollUp over a sparse ledger ≡ the direct weekly and monthly calendars") {
    // hot events in late December, early January and late March: the
    // weeks of January 8 to March 11 and all of February hold none, and
    // the non-hot events inside that gap must not fill it
    val evs = Seq(
      ev(1, "2023-12-31 23:30:00", "purchase", 150.0),
      ev(2, "2024-01-03 10:00:00", "purchase", 199.99),
      ev(3, "2024-01-03 11:00:00", "purchase", 1234.56),
      ev(4, "2024-01-04 09:00:00", "purchase", 150.25),
      ev(5, "2024-02-14 09:00:00", "purchase", 149.99),
      ev(6, "2024-02-15 09:00:00", "view", 900.0),
      ev(7, "2024-03-31 12:00:00", "purchase", 300.0),
      ev(8, "2024-04-01 00:00:00", "purchase", 410.1))
    assertRollUps(evs)
    val months = direct(evs, "month")
    assert(months.map(_._1.getMonthValue) == Seq(12, 1, 2, 3, 4))
    assert(months(2)._2 == 0L)
    assert(direct(evs, "week").count(_._2 == 0L) >= 9)
  }

  test("rollUp of a single hot event is one week and one month") {
    val evs = Seq(ev(1, "2024-02-29 08:00:00", "purchase", 175.5),
      ev(2, "2024-03-02 08:00:00", "click", 500.0))
    assertRollUps(evs)
    assert(rolledUp(evs, "week").map(_._2) == Seq(1L))
  }

  test("rollUp with no hot events is empty") {
    val evs = Seq(ev(1, "2024-01-01 08:00:00", "purchase", 10.0),
      ev(2, "2024-02-01 08:00:00", "view", 500.0))
    assertRollUps(evs)
    assert(rolledUp(evs, "month").isEmpty)
  }
}
