package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** [[Dx]] is the one place the exactness devices are spelled: the
  * DECIMAL(30,6) cast-and-sum and the round-half-up fixed-point lift. */
class DxSpec extends SparkSpec {

  import DxSpec._

  /** Every helper's result on `x` (a DOUBLE column, possibly NULL), as
    * the exact value or the root exception class. */
  private def probe(name: String, x: Option[Double]): String = {
    val df = spark.createDataFrame(
      java.util.List.of(Row(x.map(Double.box).orNull)),
      new org.apache.spark.sql.types.StructType().add("x", "double"))
      .withColumn("a", array(col("x"), lit(1.0)))
    val c = col("x")
    val out: Column = name match {
      case "dec" => Dx.dec(c)
      case "decSum" => Dx.decSum(c)
      case "dsum" => Dx.dsum(c)
      case "dsum2" => Dx.dsum2(c)
      case "round2" => Dx.round2(c)
      case "fix6" => Dx.fix(c, Dx.E6)
      case "fix12" => Dx.fix(c, Dx.E12)
      case "grid6" => Dx.grid(c, Dx.E6)
      case "fixSum12" => Dx.fixSum(c, Dx.E12)
      case "unfix12" => Dx.unfix(Dx.fixSum(c, Dx.E12), Dx.E12)
      case "valDec" => Dx.valDec(c)
      case "dotDec" => Dx.dotDec("a", "a")
      case "hashKey" => Dx.hashKey("s", c)
    }
    try {
      df.select(out).collect().head.get(0) match {
        case null => "null"
        case d: java.lang.Double => d.toString // round-trips the bits
        case b: java.math.BigDecimal => b.toPlainString
        case v => v.toString
      }
    } catch {
      case e: Throwable =>
        var r = e
        while (r.getCause != null) r = r.getCause
        "!" + r.getClass.getSimpleName
    }
  }

  test("every Dx Spark helper keeps its exact result on edge inputs") {
    val want = Expected.linesIterator.map(_.split(" ")).map(w => w.head ->
      Helpers.zip(w.tail).toMap).toMap
    val diff = for {
      (label, x) <- Inputs
      h <- Helpers
      g = probe(h, x)
      w = want.get(label).flatMap(_.get(h)).getOrElse("")
      if g != w
    } yield (s"$h $label $g", w)
    if (diff.nonEmpty) fail(s"${diff.size} results moved (got | pinned):\n" +
      diff.map { case (g, w) => s"$g | $w" }.mkString("\n"))
  }

  test("only Dx.scala spells an exactness device in src/main") {
    val hits = SessionsSpec.codeHits(Device,
      _.getFileName.toString != "Dx.scala")
    if (hits.nonEmpty) fail(s"${hits.size} code lines spell an exactness " +
      "device outside Dx; route them through graft.Dx:\n" +
      hits.mkString("\n"))
  }
}

object DxSpec {

  /** The DECIMAL(30,6) operand type, the 1e12 grid, and a 1e6 grid with
    * its round-half-up `+ 0.5`. */
  val Device = Seq("""DecimalType\(30, ?6\)""", """DECIMAL\(30, ?6\)""",
    "1e12", """1000000(\.0)?\)?\s*\+\s*(lit\()?0\.5""").mkString("|").r

  val Helpers: Seq[String] = Seq("dec", "decSum", "dsum", "dsum2", "round2",
    "fix6", "fix12", "grid6", "fixSum12", "unfix12", "valDec", "dotDec",
    "hashKey")

  private def half(k: Double): Seq[(String, Option[Double])] = {
    val x = k + 0.5e-6
    Seq(s"$x-", s"$x", s"$x+").zip(
      Seq(Math.nextDown(x), x, Math.nextUp(x)).map(Some(_)))
  }

  /** At and beside x·10⁶ half-unit boundaries, 2.675, negatives,
    * magnitudes at the 24 integer digits of DECIMAL(30,6), and the
    * non-finite values. */
  val Inputs: Seq[(String, Option[Double])] =
    half(0.0) ++ half(0.123456) ++ half(1.0) ++ half(-1.000001) ++ Seq(
      "2.675" -> Some(2.675), "-2.675" -> Some(-2.675),
      "0.285" -> Some(0.285), "-0.0" -> Some(-0.0),
      "9.999999999999998e23" -> Some(9.999999999999998e23),
      "-9.999999999999998e23" -> Some(-9.999999999999998e23),
      "1e24" -> Some(1e24), "1.2e14" -> Some(1.2e14),
      "NULL" -> None, "NaN" -> Some(Double.NaN),
      "+Inf" -> Some(Double.PositiveInfinity),
      "-Inf" -> Some(Double.NegativeInfinity))

  /** Today's results, one line per input in [[Helpers]] order, the same
    * as the inline spellings the helpers replaced; a change to how Dx
    * sums must show here first. */
  val Expected: String =
    """5.0E-7- 0.000000 0.000000 0.0 0.0 0.0 0 500000 0.0 500000 5.0E-7 0.000000500000000 1.000000000000000 4243365062
    |5.0E-7 0.000001 0.000001 1.0E-6 0.0 0.0 1 500000 1.0E-6 500000 5.0E-7 0.000000500000000 1.000000000000000 2200475755
    |5.0E-7+ 0.000001 0.000001 1.0E-6 0.0 0.0 1 500000 1.0E-6 500000 5.0E-7 0.000000500000000 1.000000000000000 195357099
    |0.1234565- 0.123456 0.123456 0.123456 0.12 0.12 123456 123456500000 0.123456 123456500000 0.1234565 0.123456500000000 1.015241507392000 786606863
    |0.1234565 0.123457 0.123457 0.123457 0.12 0.12 123457 123456500000 0.123457 123456500000 0.1234565 0.123456500000000 1.015241507392000 3310554507
    |0.1234565+ 0.123457 0.123457 0.123457 0.12 0.12 123457 123456500000 0.123457 123456500000 0.1234565 0.123456500000000 1.015241507392000 3044045957
    |1.0000005- 1.000000 1.000000 1.0 1.0 1.0 1000000 1000000500000 1.0 1000000500000 1.0000005 1.000000500000000 2.000001000000000 4285077933
    |1.0000005 1.000001 1.000001 1.000001 1.0 1.0 1000001 1000000500000 1.000001 1000000500000 1.0000005 1.000000500000000 2.000001000000000 4261102837
    |1.0000005+ 1.000001 1.000001 1.000001 1.0 1.0 1000001 1000000500000 1.000001 1000000500000 1.0000005 1.000000500000000 2.000001000000000 905284032
    |-1.0000004999999998- -1.000001 -1.000001 -1.000001 -1.0 -1.0 -1000001 -1000000500000 -1.000001 -1000000500000 -1.0000005 -1.000000500000000 2.000001000000000 1594276131
    |-1.0000004999999998 -1.000000 -1.000000 -1.0 -1.0 -1.0 -1000000 -1000000500000 -1.0 -1000000500000 -1.0000005 -1.000000500000000 2.000001000000000 3005349047
    |-1.0000004999999998+ -1.000000 -1.000000 -1.0 -1.0 -1.0 -1000000 -1000000500000 -1.0 -1000000500000 -1.0000005 -1.000000500000000 2.000001000000000 4257396102
    |2.675 2.675000 2.675000 2.675 2.68 2.68 2675000 2675000000000 2.675 2675000000000 2.675 2.675000000000000 8.155625000000000 228701257
    |-2.675 -2.675000 -2.675000 -2.675 -2.67 -2.67 -2675000 -2675000000000 -2.675 -2675000000000 -2.675 -2.675000000000000 8.155625000000000 1609327991
    |0.285 0.285000 0.285000 0.285 0.28 0.28 285000 285000000000 0.285 285000000000 0.285 0.285000000000000 1.081225000000000 2701034416
    |-0.0 0.000000 0.000000 0.0 0.0 0.0 0 0 0.0 0 0.0 0.000000000000000 1.000000000000000 3970110125
    |9.999999999999998e23 999999999999999800000000.000000 999999999999999800000000.000000 9.999999999999998E23 9.223372036854776E16 9.223372036854776E16 9223372036854775807 9223372036854775807 9.223372036854775E12 9223372036854775807 9223372.036854776 9223372.036854776000000 9223373.036854776000000 3533692302
    |-9.999999999999998e23 -999999999999999800000000.000000 -999999999999999800000000.000000 -9.999999999999998E23 -9.223372036854776E16 -9.223372036854776E16 -9223372036854775808 -9223372036854775808 -9.223372036854775E12 -9223372036854775808 -9223372.036854776 -9223372.036854776000000 9223373.036854776000000 2694721875
    |1e24 !SparkArithmeticException !SparkArithmeticException !SparkArithmeticException 9.223372036854776E16 9.223372036854776E16 9223372036854775807 9223372036854775807 9.223372036854775E12 9223372036854775807 9223372.036854776 9223372.036854776000000 9223373.036854776000000 3622560500
    |1.2e14 120000000000000.000000 120000000000000.000000 1.2E14 1.2E14 1.2E14 9223372036854775807 9223372036854775807 9.223372036854775E12 9223372036854775807 9223372.036854776 9223372.036854776000000 9223373.036854776000000 560705629
    |NULL null null null null null null null null null null null null null
    |NaN null null null 0.0 0.0 0 0 0.0 0 0.0 0.000000000000000 1.000000000000000 2763602089
    |+Inf null null null 9.223372036854776E16 9.223372036854776E16 9223372036854775807 9223372036854775807 9.223372036854775E12 9223372036854775807 9223372.036854776 9223372.036854776000000 9223373.036854776000000 518455232
    |-Inf null null null -9.223372036854776E16 -9.223372036854776E16 -9223372036854775808 -9223372036854775808 -9.223372036854775E12 -9223372036854775808 -9223372.036854776 -9223372.036854776000000 9223373.036854776000000 325148644""".stripMargin
}
