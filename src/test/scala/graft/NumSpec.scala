package graft

import graft.ops.Num
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.Try

class NumSpec extends SparkSpec {
  import spark.implicits._

  /** The per-row BigDecimal form that `Num.sum6` replaces. */
  private def castSum(x: Column): Column =
    sum((floor(x * lit(1e6) + lit(0.5)) / lit(1e6)).cast(Num.D))

  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  private def errorOf(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.getOrElse(e.getClass.getName)

  /** Per group of `df` (g, x): the decimal sum and the bits of its
    * double cast, or the error the aggregate throws. */
  private def sums(df: DataFrame, grouped: Boolean, f: Column => Column)
      : Either[String, Map[Any, (Option[java.math.BigDecimal], Option[Long])]] = {
    val agg = if (grouped) df.groupBy($"g").agg(f($"x").as("s"))
              else df.agg(f($"x").as("s")).select(lit(-1L).as("g"), $"s")
    Try(agg.select($"g", $"s", $"s".cast("double")).collect()).toEither
      .left.map(errorOf)
      .map(_.map { r =>
        r.get(0) -> (Option(r.getDecimal(1)),
          if (r.isNullAt(2)) None
          else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
      }.toMap)
  }

  /** sum6 ≡ the cast form, globally and per group, ANSI on and off. */
  private def check(df: DataFrame): Unit =
    for (ansi <- Seq(true, false); grouped <- Seq(false, true)) withAnsi(ansi) {
      val got = sums(df, grouped, Num.sum6)
      assert(got == sums(df, grouped, castSum), s"ansi = $ansi, grouped = $grouped")
      assert(got.isRight, s"ansi = $ansi, grouped = $grouped: $got")
    }

  describe("Num.sum6") {
    it("equals the DECIMAL(38,6) cast sum on edge values, nulls and non-finite input") {
      // |x·1e6 + 0.5| = 1e15 is the long-path bound: x ≈ ±999999999.9999995
      val bound = Seq(999999999.9999995, 1e9).flatMap(b => Seq(b, -b))
        .flatMap(b => Seq(Math.nextDown(b), b, Math.nextUp(b)))
      val nullD = Option.empty[Double]
      val rows: Seq[(Long, Option[Double])] =
        Seq(0L -> nullD, 0L -> nullD,                       // all null → null
          1L -> nullD, 1L -> Some(Double.NaN),
          2L -> Some(Double.PositiveInfinity), 3L -> Some(Double.NegativeInfinity),
          4L -> Some(-0.0), 4L -> Some(Double.MinPositiveValue),
          5L -> Some(-Double.MinPositiveValue),
          6L -> Some(1e20), 7L -> Some(-1e20), 8L -> Some(0.0000005),
          9L -> Some(-0.0000005), 10L -> Some(2.25), 10L -> Some(-1.0000015)) ++
        bound.zipWithIndex.map { case (b, i) => (100L + i, Some(b)) } ++
        bound.map(b => (200L, Some(b))) ++
        // the sums' widest reach: floor saturates at Long.MaxValue, so
        // 1,000 rows of Double.MaxValue stay far inside 38 digits
        Seq.fill(1000)((300L, Some(Double.MaxValue))) ++
        Seq.fill(1000)((301L, Some(-Double.MaxValue)))
      check(rows.toDF("g", "x"))
    }

    it("equals the cast sum on 200k random doubles across 24 decades") {
      val rnd = new scala.util.Random(11)
      val rows = Seq.tabulate(200000) { i =>
        val mag = (1.0 + 9.0 * rnd.nextDouble()) * math.pow(10, rnd.nextInt(24) - 12)
        (i % 20000L, if (rnd.nextBoolean()) mag else -mag)
      }
      check(rows.toDF("g", "x"))
    }

    it("equals the cast sum on 200k values in ±1e8 and on their squares") {
      val rnd = new scala.util.Random(12)
      val df = Seq.tabulate(200000)(i => (i % 20000L, (2 * rnd.nextDouble() - 1) * 1e8))
        .toDF("g", "v")
      check(df.select($"g", $"v".as("x")))
      check(df.select($"g", ($"v" * $"v").as("x")))
    }
  }
}
