package graft

import graft.functions.BinMath
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal

import java.math.{BigDecimal => JBigDecimal, BigInteger}

/** `BinMath.mulDiv` is Python's `a * b / c` on ints: the double nearest
  * the exact quotient, ties to even. Every check decides rounding by
  * cross-multiplying exact binary expansions against `a·b` — no floating
  * point on the checking side. */
class BinMathSpec extends SparkSpec {
  import spark.implicits._

  private def dec(v: BigInteger): Decimal = Decimal(new JBigDecimal(v))
  private def mulDiv(a: BigInteger, b: BigInteger, c: BigInteger): Double =
    BinMath.mulDiv(dec(a), dec(b), dec(c))

  private val two = BigInteger.TWO
  /** 2^1024 − 2^970: halfway between Double.MaxValue and 2^1024. */
  private val overflowEdge = new JBigDecimal(two.pow(1024).subtract(two.pow(970)))

  /** Whether `r` is the correctly rounded double of `t / c` (t ≥ 0,
    * c > 0): t/c lies between the midpoints to r's neighbours, and on a
    * midpoint only when r's significand is even. */
  private def roundsCorrectly(r: Double, t: BigInteger, c: BigInteger): Boolean = {
    val tc = new JBigDecimal(t)
    val cc = new JBigDecimal(c)
    if (r.isInfinite) r > 0 && tc.compareTo(overflowEdge.multiply(cc)) >= 0
    else {
      val exact = new JBigDecimal(r)
      def mid(n: Double): JBigDecimal =
        (if (n.isInfinite) new JBigDecimal(two.pow(1024)) else new JBigDecimal(n))
          .add(exact).divide(JBigDecimal.valueOf(2))
      val lo = if (r == 0.0) JBigDecimal.ZERO else mid(Math.nextDown(r)).multiply(cc)
      val hi = mid(Math.nextUp(r)).multiply(cc)
      val even = (java.lang.Double.doubleToRawLongBits(r) & 1L) == 0L
      val (cl, ch) = (tc.compareTo(lo), tc.compareTo(hi))
      r >= 0.0 && cl >= 0 && ch <= 0 && ((cl > 0 && ch < 0) || even)
    }
  }

  private def check(a: BigInteger, b: BigInteger, c: BigInteger): Unit = {
    val r = mulDiv(a, b, c)
    assert(roundsCorrectly(r, a.multiply(b), c), s"$a * $b / $c -> $r")
  }

  describe("BinMath.mulDiv") {
    it("rounds uint128-scale a·b/c correctly") {
      val rnd = new java.util.Random(11)
      (1 to 3000).foreach { _ =>
        def u(bits: Int) = new BigInteger(1 + rnd.nextInt(bits), rnd)
        check(u(128), u(128), u(128).add(BigInteger.ONE))
      }
    }

    it("rounds correctly within one unit of a rounding boundary, ties to even") {
      val rnd = new java.util.Random(12)
      (1 to 2000).foreach { _ =>
        // m: the midpoint above a random double r ≥ 1, as an exact
        // fraction M / 2^k; c = 2^k · odd makes m·c an integer
        val r = (1L + (rnd.nextLong() >>> (4 + rnd.nextInt(50)))).toDouble * (1 + rnd.nextInt(7))
        val m = new JBigDecimal(r).add(new JBigDecimal(Math.nextUp(r))).divide(JBigDecimal.valueOf(2))
        val k = math.max(m.scale, 0)
        val odd = BigInteger.valueOf(rnd.nextLong() >>> 20).setBit(0)
        val c = two.pow(k + rnd.nextInt(8)).multiply(odd)
        val t = m.multiply(new JBigDecimal(c)).toBigIntegerExact
        Seq(-1, 0, 1).foreach { d =>
          val td = t.add(BigInteger.valueOf(d))
          // a·b = td with b a small factor when it divides, else b = 1
          val b = if (td.mod(BigInteger.valueOf(3)).signum == 0) BigInteger.valueOf(3) else BigInteger.ONE
          check(td.divide(b), b, c)
        }
        // the tie itself goes to the even neighbour
        val tie = mulDiv(t, BigInteger.ONE, c)
        assert(tie == (if ((java.lang.Double.doubleToRawLongBits(r) & 1L) == 0L) r else Math.nextUp(r)))
      }
    }

    it("is exact beyond the normal double range: subnormal and overflowing quotients") {
      val one = BigInteger.ONE
      assert(mulDiv(one, one, two.pow(1074)) == Double.MinPositiveValue)
      assert(mulDiv(one, one, two.pow(1075)) == 0.0) // a tie, to the even zero
      assert(mulDiv(BigInteger.valueOf(3), one, two.pow(1076)) == Double.MinPositiveValue)
      assert(mulDiv(one, one, two.pow(1076)) == 0.0)
      assert(mulDiv(two.pow(1023), two, one) == Double.PositiveInfinity)
      assert(mulDiv(new JBigDecimal(Double.MaxValue).toBigIntegerExact, one, one) == Double.MaxValue)
      assert(mulDiv(overflowEdge.toBigIntegerExact, one, one) == Double.PositiveInfinity)
      assert(mulDiv(overflowEdge.toBigIntegerExact.subtract(one), one, one) == Double.MaxValue)
      val rnd = new java.util.Random(13)
      (1 to 500).foreach { _ =>
        val a = new BigInteger(1 + rnd.nextInt(128), rnd)
        check(a, BigInteger.ONE, two.pow(1000 + rnd.nextInt(200)).add(BigInteger.valueOf(rnd.nextInt(1000))))
        check(two.pow(900 + rnd.nextInt(130)).add(a), BigInteger.ONE, BigInteger.ONE.add(new BigInteger(8, rnd)))
      }
    }

    it("keeps the sign, and yields 0.0 for a zero numerator") {
      val (a, b, c) = (new BigInteger("123456789012345678901234567890"), BigInteger.valueOf(7),
                       new BigInteger("98765432109876543210"))
      assert(mulDiv(a.negate, b, c) == -mulDiv(a, b, c))
      assert(mulDiv(a, b, c.negate) == -mulDiv(a, b, c))
      assert(java.lang.Double.compare(mulDiv(BigInteger.ZERO, b, c), 0.0) == 0)
      assert(java.lang.Double.compare(mulDiv(BigInteger.ZERO, b, c.negate), 0.0) == 0)
    }

    it("column form: zero numerator 0.0, totalShares = 0 or a null input null") {
      val df = Seq[(Option[Long], Option[Long], Option[Long])](
        (Some(0L), Some(5L), Some(10L)), (Some(4L), Some(5L), Some(0L)),
        (None, Some(5L), Some(10L)), (Some(4L), Some(5L), Some(10L))).toDF("a", "b", "c")
      val got = df.select(BinMath.mulDivDouble(col("a").cast("decimal(38,0)"),
          col("b").cast("decimal(38,0)"), col("c").cast("decimal(38,0)")))
        .as[Option[Double]].collect().toSeq
      assert(got == Seq(Some(0.0), None, None, Some(2.0)))
    }
  }
}
