package graft

import javax.xml.parsers.SAXParserFactory

import org.xml.sax.InputSource
import org.xml.sax.helpers.DefaultHandler

import graft.sources.{Charts, Sinks}

/** S9 charts — the reference's four `create_charts` figures
  * (`report_generator.py:69-143`) as inline SVG. Every SVG must be
  * well-formed XML (SAX-validated, the same gate as the XLSX parts) and
  * its geometry arithmetic is asserted through the `data-*` attributes
  * each mark carries — no path parsing. */
class ChartsSpec extends SparkSpec {
  import spark.implicits._

  /** SAX-parse; throws on malformed XML. Collects (element, attrs). */
  private def parse(svg: String): Seq[(String, Map[String, String])] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Map[String, String])]()
    val f = SAXParserFactory.newInstance()
    f.setNamespaceAware(true)
    f.newSAXParser().parse(
      new InputSource(new java.io.StringReader(svg)),
      new DefaultHandler {
        override def startElement(uri: String, local: String, q: String,
            a: org.xml.sax.Attributes): Unit =
          out += ((local, (0 until a.getLength)
            .map(i => a.getQName(i) -> a.getValue(i)).toMap))
      })
    out.toSeq
  }

  private def marks(svg: String, el: String): Seq[Map[String, String]] =
    parse(svg).collect { case (`el`, a) if a.contains("data-value") => a }

  test("donut chart: slice angles sum to 360 and are value-proportional") {
    val slices = Seq("A" -> 7.0, "B" -> 35.0, "C" -> 158.0)
    val svg = Charts.donutChart(slices, "ABC Analysis (by Product Count)")
    val paths = marks(svg, "path")
    assert(paths.size == 3)
    val angles = paths.map(_("data-angle").toDouble)
    assert(math.abs(angles.sum - 360.0) < 0.05, angles.toString)
    // each slice's sweep ∝ its value (matplotlib pie contract)
    val total = slices.map(_._2).sum
    slices.map(_._2).zip(angles).foreach { case (v, a) =>
      assert(math.abs(a - 360.0 * v / total) < 0.05, s"$v -> $a")
    }
    // autopct '%1.1f%%' labels present (report_generator.py:96)
    assert(svg.contains("79.0%") && svg.contains("17.5%") &&
      svg.contains("3.5%"), svg.take(400))
  }

  test("stacked bar chart: rect heights stack value-proportionally") {
    val cats = Seq("1", "2")
    val series = Seq("IN", "OUT", "TRANSFER")
    val vals = Seq(Seq(10.0, 20.0, 30.0), Seq(5.0, 0.0, 15.0))
    val svg = Charts.stackedBarChart(cats, series, vals,
      "Warehouse Activity (Total Movements)", "Warehouse ID",
      "Number of Movements")
    val rects = marks(svg, "rect")
    assert(rects.size == 6) // 2 categories × 3 series
    // heights are proportional to values on a shared y scale: height/value
    // is the same constant for every nonzero mark
    val ratios = rects.filter(_("data-value").toDouble > 0)
      .map(a => a.get("height").get.toDouble / a("data-value").toDouble)
    assert(ratios.max - ratios.min < 1e-6, ratios.toString)
    // legend carries every series name
    series.foreach(s => assert(svg.contains(s">$s</text>"), s))
  }

  test("horizontal bar chart: widths proportional, Rupiah axis ticks") {
    val bars = Seq("p1/s1" -> 1000000.0, "p2/s2" -> 2500000.0)
    val svg = Charts.hBarChart(bars,
      "Top 10 Most Valuable Products (by Current Stock Value)",
      "Total Stock Value (Rp)")
    val rects = marks(svg, "rect")
    assert(rects.size == 2)
    val widths = rects.map(a =>
      a("data-value").toDouble -> a("width").toDouble)
    val k = widths.map { case (v, w) => w / v }
    assert(k.max - k.min < 1e-6)
    // the value axis formats through the q63 Rupiah twin
    // (report_generator.py:137's FuncFormatter)
    assert(svg.contains("Rp 2.500.000,0"), svg.take(600))
  }

  test("line chart: one marker per point at value-proportional height") {
    val pts = (1 to 12).map(m => (f"2024-$m%02d", m * 10.0))
    val svg = Charts.lineChart(pts, "Monthly Sales Movements",
      "Date", "Total Movements")
    val circles = marks(svg, "circle")
    assert(circles.size == 12)
    // y decreases as value grows (SVG y axis points down)
    val sorted = circles.sortBy(_("data-value").toDouble)
    val ys = sorted.map(_("cy").toDouble)
    assert(ys == ys.sorted.reverse, ys.toString)
    assert(parse(svg).exists(_._1 == "polyline"))
  }

  test("chartsFor renders the reference's four figures from written reports") {
    val dir = "/root/testdata/sf0.001"
    val reports = Map(
      "monthly_trends" ->
        ops.Movement.rollUp(ops.Movement.trend(spark, dir), "month"),
      "abc_analysis" -> ops.Financial.abcAnalysis(spark, dir),
      "warehouse_io_summary" -> ops.Warehouse.ioPivot(spark, dir),
      "stock_value_report" -> ops.Financial.stockValue(spark, dir))
    val charts = Charts.chartsFor(reports.get)
    assert(charts.map(_._1) == Seq("monthly_movements", "abc_analysis_pie",
      "warehouse_activity", "top_10_value_products"))
    charts.foreach { case (key, svg) => parse(svg); () } // all well-formed
    val donut = charts.toMap.apply("abc_analysis_pie")
    assert(math.abs(
      marks(donut, "path").map(_("data-angle").toDouble).sum - 360.0) < 0.1)
    val top10 = charts.toMap.apply("top_10_value_products")
    assert(marks(top10, "rect").size == 10)
    // barh ascending from the bottom: data-values ascend in emit order
    val vs = marks(top10, "rect").map(_("data-value").toDouble)
    assert(vs == vs.sorted, vs.toString)
    // missing source reports are tolerated like the reference's
    // `if name in data_frames` guards
    val partial = Charts.chartsFor(
      Map("abc_analysis" -> reports("abc_analysis")).get)
    assert(partial.map(_._1) == Seq("abc_analysis_pie"))
  }

  test("writeHtmlReport embeds charts as anchored figures") {
    val df = Seq(("x", 1.0)).toDF("name", "value")
    val svg = Charts.donutChart(Seq("A" -> 1.0, "B" -> 3.0), "T")
    val html = Sinks.writeHtmlReport(
      Seq("Sec" -> df), "Report", "2002-01-01", path = None,
      charts = Seq("abc_analysis_pie" -> svg))
    assert(html.contains("<figure id=\"abc_analysis_pie\">"))
    assert(html.contains("<svg "))
    // charts precede the table sections, like the reference template
    assert(html.indexOf("<figure") < html.indexOf("<section"))
  }
}
