package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{DecimalType, Decimal, DoubleType}

import java.math.BigInteger

/** Exact uint256-scale `a * b / c` (reference bin math, main.py:232-233).
  *
  * The reference holds reserves/shares as Python arbitrary-precision ints,
  * so `reserveX * shares` is exact even for two uint128 values (product up
  * to ~2^256) before the true division to float, which Python rounds
  * correctly (half to even). Spark's `Decimal(38,0) * Decimal(38,0)` caps
  * the result precision at 38 digits and silently overflows to null for
  * products beyond ~1e38 — so the product is computed here on
  * `BigInteger` (unbounded), and the quotient is rounded to double once,
  * from its exact binary digits: the same double Python returns.
  */
object BinMath {

  /** Called from codegen via StaticInvoke; inputs are non-null
    * (propagateNull) and `c` is guarded non-zero by [[mulDivDouble]]. */
  def mulDiv(a: Decimal, b: Decimal, c: Decimal): Double =
    divide(a.toJavaBigInteger.multiply(b.toJavaBigInteger), c.toJavaBigInteger)

  /** The double nearest `n / d` (ties to even); `d` ≠ 0. A zero `n`
    * yields 0.0 whatever the sign of `d`.
    *
    * With 2^k ≤ |n/d| < 2^(k+1), the result's last significand bit is
    * worth 2^e, e = max(k − 52, −1074) (the subnormal floor). The
    * integer part of |n/d|·2^(2−e) holds the significand plus two more
    * bits; the division's remainder is the sticky bit. Those three bits
    * decide the rounding exactly, and the rounded significand (≤ 2^53)
    * scaled by 2^e is exact — or ±Infinity beyond the double range. */
  def divide(n: BigInteger, d: BigInteger): Double = {
    if (n.signum == 0) return 0.0
    val p = n.abs
    val q = d.abs
    val diff = p.bitLength - q.bitLength
    // k = floor(log2(p / q)): diff or diff - 1
    val k = if (diff >= 0) { if (p.compareTo(q.shiftLeft(diff)) >= 0) diff else diff - 1 }
            else { if (p.shiftLeft(-diff).compareTo(q) >= 0) diff else diff - 1 }
    val magnitude =
      if (k > 1023) Double.PositiveInfinity
      else {
        val e = math.max(k - 52, -1074)
        val shift = 2 - e // p·2^shift / q has at most 55 integer bits
        val qr = if (shift >= 0) p.shiftLeft(shift).divideAndRemainder(q)
                 else p.divideAndRemainder(q.shiftLeft(-shift))
        val m = qr(0).longValue
        val sticky = qr(1).signum != 0
        val (round, low) = ((m & 2) != 0, (m & 1) != 0 || sticky)
        var sig = m >>> 2
        if (round && (low || (sig & 1) != 0)) sig += 1
        java.lang.Math.scalb(sig.toDouble, e)
      }
    if (n.signum != d.signum) -magnitude else magnitude
  }

  /** Column form: exact `a * b / c` as double; null when `c` = 0 or any
    * input is null (engine-wide null-on-zero division policy). */
  def mulDivDouble(a: Column, b: Column, c: Column): Column = {
    import org.apache.spark.sql.functions.when
    val dec = DecimalType(38, 0)
    val invoke = GraftColumnBridge.column(StaticInvoke(
      BinMath.getClass,
      DoubleType,
      "mulDiv",
      Seq(GraftColumnBridge.expression(a.cast(dec)),
          GraftColumnBridge.expression(b.cast(dec)),
          GraftColumnBridge.expression(c.cast(dec))),
      propagateNull = true,
      returnNullable = false))
    when(c =!= 0, invoke)
  }
}
