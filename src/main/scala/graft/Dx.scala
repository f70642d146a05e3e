package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Determinism helpers shared by every query and its DuckDB oracle: the
  * one place the engine's two exactness devices are spelled, each Spark
  * helper beside its SQL twin.
  *
  * The correctness gate (tools/check_oracle.py) compares Spark output
  * parquet with DuckDB output on the same tables (BASELINE.md "Engine
  * acceptance targets"). Floating-point sums are order-dependent, and
  * Spark's partial aggregation order differs from DuckDB's, so every sum
  * over non-integral doubles is made exact by one of two devices:
  *  - the decimal cast-and-sum: elementwise double arithmetic
  *    (bit-identical in both engines) → cast to [[Dec]] (deterministic
  *    round-half-up for positive values in both engines) → exact,
  *    order-independent decimal sum → cast back to double (deterministic
  *    nearest);
  *  - the fixed-point lift: round half up onto a 1/s grid with pure IEEE
  *    ops, floor(x·s + 0.5), which both engines evaluate bit-identically;
  *    the integer numerator is summed exactly ([[fixSum]]) or the grid
  *    value is kept as a decimal ([[valDec]], [[dsum2]]).
  * Averages divide two such deterministic doubles. Either device costs one
  * extra per-row cast in the codegen'd aggregate and keeps results
  * reproducible at any parallelism.
  *
  * The SQL twins emit the exact text the oracles print. Where an
  * oracle's layout wraps a line inside a fragment, the break travels in
  * an argument or the oracle splices the tokens [[SqlDec]] / [[SqlE12]],
  * so its text stays unchanged.
  */
object Dx {
  /** Operand type of the decimal cast-and-sum. */
  val Dec: DecimalType = DecimalType(30, 6)

  /** `e` on the exact operand type [[Dec]]. */
  def dec(e: Column): Column = e.cast(Dec)

  /** Decimal-exact sum kept as decimal (for window cumsums that must add
    * exactly across frames). */
  def decSum(e: Column): Column = sum(dec(e))

  /** Exact, order-independent sum of a double expression → double. */
  def dsum(e: Column): Column = decSum(e).cast("double")

  /** Exact sum of a COMPUTED (noisy) double expression. Spark casts
    * double→decimal via the shortest string repr + HALF_UP while DuckDB
    * expands the full binary value, so they disagree on full-precision
    * noise (and their round() built-ins disagree on ties). Instead round to
    * cents with [[round2]], which both engines evaluate bit-identically;
    * the result is k/100 whose [[Dec]] cast is unambiguous for |x| < 1e8.
    * Use [[dsum]] for raw input columns, this for products/ratios. */
  def dsum2(e: Column): Column = dsum(round2(e))

  /** Grid scales of the fixed-point lift. */
  val E6 = 1e6
  val E12 = 1e12

  /** Round half up onto the 1/s grid, as the integer numerator
    * floor(x·s + 0.5) (BIGINT). */
  def fix(e: Column, s: Double): Column = floor(e * s + 0.5)

  /** `e` rounded half up onto the 1/s grid, as a double: fix(e, s)/s. */
  def grid(e: Column, s: Double): Column = fix(e, s) / s

  /** Bit-portable round-to-cents for a computed double (see [[dsum2]]). */
  def round2(e: Column): Column = grid(e, 100.0)

  /** Exact integer sum of [[fix]]`(e, s)`, carried as DECIMAL(38,0) so it
    * cannot overflow BIGINT. */
  def fixSum(e: Column, s: Double): Column =
    sum(fix(e, s).cast(DecimalType(38, 0)))

  /** A fixed-point sum back on the value scale: one correctly rounded
    * division of the exact integer. */
  def unfix(n: Column, s: Double): Column = n.cast("double") / s

  /** One element on the 1e-12 grid, kept as DECIMAL(38,15): the
    * nearest double of k/1e12 rounds back to k/1e12 at scale 15 while
    * |x| ≲ 1 (representation error ~1e-17 against the 0.5e-15 rounding
    * boundary). Unit-vector components are ~1e-1, hence the fine grid. */
  def valDec(x: Column): Column =
    grid(x.cast("double"), E12).cast(DecimalType(38, 15))

  /** Exact dot product of two array columns: [[sqlProdDec]] per element
    * pair, accumulated as DECIMAL(38,15) — order-independent, and
    * bit-equal to the oracles' SUM of the same lifted products. */
  def dotDec(a: String, b: String): Column = expr(
    s"""aggregate(
       |  zip_with($a, $b, (x, y) ->
       |    ${sqlProdDec("x", "y")}),
       |  CAST(0 AS DECIMAL(38,15)),
       |  (acc, z) -> CAST(acc + z AS DECIMAL(38,15)))""".stripMargin)

  /** SQL twin fragments for DuckDB oracles. */
  val SqlDec = "DECIMAL(30,6)"
  private def sqlDec(e: String): String = s"CAST($e AS $SqlDec)"
  def sqlDecSum(e: String): String = s"SUM(${sqlDec(e)})"
  def sqlDsum(e: String): String = s"CAST(${sqlDecSum(s"($e)")} AS DOUBLE)"
  def sqlDsum2(e: String): String =
    s"CAST(SUM(${sqlDec(sqlRound2(e))}) AS DOUBLE)"
  def sqlRound2(e: String): String = s"(floor(($e)*100.0 + 0.5)/100.0)"

  /** The fixed-point twins take the scale as the literal the oracle
    * spells it with; [[SqlE12]] is the 1e-12 grid's. */
  val SqlE12 = "1e12"
  def sqlFix(e: String, s: String): String = s"floor($e * $s + 0.5)"
  def sqlGrid(e: String, s: String): String = s"${sqlFix(e, s)} / $s"
  def sqlFixSum(e: String, s: String): String =
    s"SUM(CAST(${sqlFix(e, s)} AS DECIMAL(38,0)))"
  def sqlUnfix(n: String, s: String): String = s"CAST($n AS DOUBLE) / $s"
  def sqlValDec(x: String): String = sqlDec12(s"CAST($x AS DOUBLE)")
  def sqlProdDec(a: String, b: String): String =
    sqlDec12(s"CAST($a AS DOUBLE) * CAST($b AS DOUBLE)")
  private def sqlDec12(e: String): String =
    s"CAST(${sqlGrid(e, SqlE12)} AS DECIMAL(38,15))"

  /** Deterministic hash-membership key: the first 8 hex chars of
    * md5(salt ‖ id) as a long in [0, 2³²) — the device behind stratified
    * sampling and the eval-set carve (membership is a pure function of
    * the row, stable under re-runs and re-partitioning). Shared here so
    * every consumer keys the SAME 32-bit prefix; the DuckDB twin is
    * [[sqlHex2Long]] over the same md5 expression. */
  def hashKey(salt: String, id: Column): Column =
    conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** DuckDB-side parse of the first `n` hex chars of expression `h` (a hex
    * string, e.g. md5 output) into a BIGINT — DuckDB has no conv(); Spark
    * side uses conv(substring(h,1,n),16,10). Generated as a positional
    * polynomial so both engines agree exactly. */
  def sqlHex2Long(h: String, n: Int): String = {
    val terms = (1 to n).map { i =>
      val mult = BigInt(16).pow(n - i)
      s"(strpos('0123456789abcdef', substr($h,$i,1)) - 1) * $mult"
    }
    "(" + terms.mkString(" + ") + ")"
  }
}
