package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Numeric helpers shared by every query that must hash-match a DuckDB
  * oracle (SURVEY.md §5, §7.4).
  *
  * Floating-point sums are NOT associative, and both Spark and DuckDB
  * aggregate in nondeterministic partition order — so any double SUM over
  * many rows differs between engines in the low bits. The fix used across
  * the engine: sum in exact DECIMAL(38,6) (order-independent), cast the
  * exact result back to double. Per-row double arithmetic (+,*,-,/) is
  * IEEE-deterministic and needs no such treatment.
  */
object Num {
  /** Exact-sum type. 38 digits cannot overflow on any sum the catalogue
    * makes, so no caller needs an overflow branch. */
  val D: DecimalType = DecimalType(38, 6)

  /** Order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(D)).cast("double")

  /** |F| bound below which [[sum6]] sums on longs (see there). */
  private val Exact6 = 1000000000000000L

  /** The 6-dp grid sum `sum((floor(x·1e6 + 0.5) / 1e6).cast(D))`: the
    * same DECIMAL(38,6) value and type, without a BigDecimal per row.
    *
    * F = floor(x·1e6 + 0.5) is the long Spark's `floor` returns
    * (saturating; NaN gives 0). For |F| < 1e15 the cast of F/1e6 is
    * exactly F·10⁻⁶. Spark 4.1's double→decimal cast (`Cast.castToDecimal`
    * and its codegen twin `castToDecimalCode`) builds
    * `Decimal.apply(Double)` — a BigDecimal of `java.lang.Double.toString`
    * — then `changePrecision(38, 6)` with ROUND_HALF_UP. F/1e6 is the
    * correctly rounded quotient of two exact doubles, and
    * `Double.toString` reads back as that double, so the string is
    * within one ulp of F·10⁻⁶; below 1e9 an ulp is at most 2⁻²³, under
    * half a 10⁻⁶ step, so HALF_UP returns F·10⁻⁶.
    *
    * Those rows sum F as its high (F >> 24) and low (F & 0xFFFFFF) parts
    * in two long sums, which cannot overflow below 2³⁷ rows. The rest
    * (|x| ≳ 1e9, ±Inf) keep the decimal cast. The result is
    * hi·16.777216 + lo·10⁻⁶ + rest (2²⁴ = 16,777,216), null when no row
    * is non-null. NumSpec checks it against the cast form bit for bit.
    *
    * Measured at sf0.01 on local[4] (`graft.Profile`, one traced run
    * each): q190, whose one aggregate holds 14 lineitem moment sums,
    * fell from 0.81 to 0.10 executor CPU-s; perfbench `catalog`
    * `cpu_s_per_op` fell 0.296 → 0.235 s over 11 pairs. */
  def sum6(x: Column): Column = {
    val f = floor(x * lit(1e6) + lit(0.5))
    val far = f <= lit(-Exact6) || f >= lit(Exact6)
    val hi = sum(when(far, lit(0L)).otherwise(shiftright(f, 24)))
    val lo = sum(when(far, lit(0L)).otherwise(f.bitwiseAND(lit(0xFFFFFFL))))
    val rest = sum(when(far, (f / lit(1e6)).cast(D)))
    val L = DecimalType(20, 0)
    (hi.cast(L) * lit(BigDecimal("16.777216")) + lo.cast(L) * lit(BigDecimal("0.000001"))
      + coalesce(rest, lit(BigDecimal(0)).cast(D))).cast(D)
  }

  /** Integer sum normalized to long (DuckDB sums int to HUGEINT). */
  def lsum(c: Column): Column = sum(c).cast("long")

  /** count(...) normalized to long. */
  def lcount(c: Column): Column = count(c).cast("long")

  /** Division that yields null (not Infinity/NaN) on a zero denominator —
    * the reference's inf→NaN dance (main.py:266-269,284-286) normalized,
    * SURVEY.md E9/E11-E13. */
  def safeDiv(num: Column, den: Column): Column =
    when(den =!= lit(0), num / den)
}
