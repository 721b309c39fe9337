package graft

import graft.model.Schemas
import graft.pipeline.Snapshot
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

/** Model spec of the snapshot's per-task summary: seeded random input
  * sets (PropertySpec style) through `Snapshot.build`, every summary
  * column checked against a plain-Scala model of the reference's
  * semantics as the engine defines them — the tie-kept latest deposits
  * as `Decimal(38,6)` sums, the `Decimal(38,12)` fee sums, both folds
  * sorted and rendered as `array_sort` + `cast(… as string)` would, the
  * exact bin math and one row per task-table row.
  *
  * The sets cover null keys, duplicate tasks, tied and null block
  * numbers and timestamps, NaN/±0.0/±Infinity and null amounts,
  * unparseable fee ids, `totalShares = 0`, null reserves, uint128-scale
  * reserves and tasks of pools missing from pool1d. Each set has its
  * own users and pools, so all sets run as one build.
  */
class SnapshotModelSpec extends SparkSpec {
  import spark.implicits._

  private case class Pool(id: String, decX: Option[Int], decY: Option[Int])
  private case class Hist(user: Option[String], pool: Option[String], isDeposit: Option[Boolean],
                          block: Option[Long], ts: Option[String],
                          ax: Option[String], ay: Option[String])
  private case class Fee(user: Option[String], pool: Option[String], binId: Option[String],
                         fx: Option[String], fy: Option[String])
  private case class Bin(user: Option[String], pool: Option[String], binId: Option[Long],
                         rx: Option[BigInt], ry: Option[BigInt], sh: Option[BigInt],
                         tot: Option[BigInt])
  private case class InputSet(tasks: Seq[(Option[String], Option[String])], pools: Seq[Pool],
                              history: Seq[Hist], fees: Seq[Fee], bins: Seq[Bin])

  private def opt[A](g: Gen[A], nulls: Int = 1): Gen[Option[A]] =
    Gen.frequency(nulls -> Gen.const(None), 8 -> g.map(Some(_)))

  private val amount: Gen[String] = Gen.frequency(
    1 -> Gen.oneOf("NaN", "Infinity", "-Infinity", "-0.0", "0.0", "0"),
    6 -> (for {
      units <- Gen.choose(-100000L, 100000L)
      scale <- Gen.choose(0, 4)
    } yield JBigDecimal.valueOf(units, scale).toPlainString))

  private val uint: Gen[BigInt] = Gen.frequency(
    1 -> Gen.const(BigInt(0)),
    3 -> Gen.choose(1L, 1000000L).map(BigInt(_)),
    4 -> Gen.choose(1, 126).flatMap(bits => Gen.choose(0L, Long.MaxValue)
      .map(seed => BigInt(bits, new scala.util.Random(seed)))))

  private def inputSet(set: Int): Gen[InputSet] = {
    val users = (1 to 3).map(u => s"s${set}u$u")
    val pools = (1 to 3).map(p => s"s${set}p$p")
    val user = opt(Gen.oneOf(users))
    val pool = opt(Gen.oneOf(pools))
    val ts = Gen.oneOf("2024-01-05 10:00:00", "2024-01-06 10:00:00", "2024-01-06 11:30:00")
    for {
      listed <- Gen.choose(1, 3)
      pool1d <- Gen.listOfN(listed, for {
        dx <- opt(Gen.oneOf(6, 8, 18)); dy <- opt(Gen.oneOf(6, 18))
      } yield (dx, dy)).map(_.zip(pools).map { case ((dx, dy), p) => Pool(p, dx, dy) })
      tasks <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, for {
        u <- opt(Gen.oneOf(users), nulls = 1); p <- Gen.oneOf(pools)
      } yield (u, Some(p): Option[String])))
      history <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, for {
        u <- user; p <- pool; d <- opt(Gen.oneOf(true, true, false))
        b <- opt(Gen.oneOf(100L, 120L, 130L)); t <- opt(ts)
        ax <- opt(amount); ay <- opt(amount)
      } yield Hist(u, p, d, b, t, ax, ay)))
      fees <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, for {
        u <- user; p <- pool
        id <- opt(Gen.oneOf("8388608", "8388609", "17", "-3", "x7"))
        fx <- opt(amount); fy <- opt(amount)
      } yield Fee(u, p, id, fx, fy)))
      bins <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, for {
        u <- user; p <- pool; id <- opt(Gen.choose(8388600L, 8388616L))
        rx <- opt(uint); ry <- opt(uint); sh <- opt(uint); tot <- opt(uint)
      } yield Bin(u, p, id, rx, ry, sh, tot)))
    } yield InputSet(tasks, pool1d, history, fees, bins)
  }

  private val sets: Seq[InputSet] = (1 to 80).flatMap { i =>
    inputSet(i).apply(Gen.Parameters.default, Seed(i.toLong))
  }

  // ---- the inputs as the API would serve them ----

  private def q(s: Option[String]): String = s.fold("null")("\"" + _ + "\"")
  private def n(v: Option[Any]): String = v.fold("null")(_.toString)
  private def json(rows: Seq[String], schema: org.apache.spark.sql.types.StructType) =
    spark.read.schema(schema).json(rows.toDS)

  private lazy val out: Seq[String] = {
    val pools = sets.flatMap(_.pools)
    val pool1d = json(pools.map { p =>
      s"""{"pairAddress":"${p.id}","name":"N${p.id}","liquidityUsd":"1000.0","feesUsd":"1.0",""" +
        s""""tokenX":{"decimals":${n(p.decX)},"priceUsd":"2.0"},"tokenY":{"decimals":${n(p.decY)},"priceUsd":"1.0"}}"""
    }, Schemas.poolStats)
    val pool1h = json(pools.map(p => s"""{"pairAddress":"${p.id}","volumeUsd":"5.0"}"""),
      Schemas.poolStats)
    val history = json(sets.flatMap(_.history).map { h =>
      s"""{"user_address":${q(h.user)},"poolAddress":${q(h.pool)},"isDeposit":${n(h.isDeposit)},""" +
        s""""blockNumber":${n(h.block)},"timestamp":${q(h.ts)},""" +
        s""""tokenX":{"amount":${q(h.ax)}},"tokenY":{"amount":${q(h.ay)}}}"""
    }, Schemas.userHistory)
    val fees = json(sets.flatMap(_.fees).map { f =>
      s"""{"user_address":${q(f.user)},"poolAddress":${q(f.pool)},"binId":${q(f.binId)},""" +
        s""""accruedFeesX":${q(f.fx)},"accruedFeesY":${q(f.fy)}}"""
    }, Schemas.feesEarned)
    // one partition, in list order: the Σux order the model uses
    val bins = json(sets.flatMap(_.bins).map { b =>
      s"""{"user_address":${q(b.user)},"poolAddress":${q(b.pool)},"binId":${n(b.binId)},""" +
        s""""reserveX":${n(b.rx)},"reserveY":${n(b.ry)},"shares":${n(b.sh)},"totalShares":${n(b.tot)}}"""
    }, Schemas.binReserves).coalesce(1)
    val tasks = sets.flatMap(_.tasks).toDF("user_address", "pool_address")
    Snapshot.build(Snapshot.Inputs(tasks, pool1d, pool1h, history, fees, bins),
        nowUnix = lit(1700000000L), nowStr = lit("2023-11-14 22:13:20"))
      .select(Columns.map(c => col(s"`$c`").cast("string")): _*)
      .collect().map(r => Columns.indices.map(r.getString).mkString(" | ")).toSeq.sorted
  }

  private val Columns = Seq("user_address", "pool_address", "current_unix_timestamp",
    "timestamp(datetime_pst)", "total_tokenX_amount_initial_deposit",
    "total_tokenY_amount_initial_deposit", "MostRecentDepositTime", "token_x_amount",
    "token_y_amount", "bin_distribution(bin id: token_x_amount, token_y_amounts)",
    "accrued_fees_token_x", "accrued_fees_token_y",
    "fees_per_bin(bin_id: token_x, token_y_amounts)")

  // ---- the model ----

  /** try_cast(string as double), then coalesce to 0.0. */
  private def amountOf(s: Option[String]): Double = s.map(_.toDouble).getOrElse(0.0)
  /** cast(double as decimal(38, scale)): null for NaN/±Infinity. */
  private def decimalOf(d: Double, scale: Int): Option[JBigDecimal] =
    if (d.isNaN || d.isInfinite) None
    else Some(new JBigDecimal(java.lang.Double.toString(d)).setScale(scale, RoundingMode.HALF_UP))
  private def str(d: Double): String = java.lang.Double.toString(d)

  /** array_sort over struct(id, x, y, text): nulls first, SQL double
    * order (NaN largest, -0.0 = 0.0), then the text. */
  private def fold(entries: Seq[(Option[Long], Option[Double], Option[Double])]): String = {
    def cmpD(a: Option[Double], b: Option[Double]): Int = (a, b) match {
      case (None, None) => 0
      case (None, _) => -1
      case (_, None) => 1
      case (Some(x), Some(y)) =>
        if (x.isNaN && y.isNaN) 0 else if (x.isNaN) 1 else if (y.isNaN) -1
        else if (x < y) -1 else if (x > y) 1 else 0
    }
    val text = (e: (Option[Long], Option[Double], Option[Double])) =>
      s"${e._1.fold("null")(_.toString)}: ${e._2.fold("null")(str)}, ${e._3.fold("null")(str)}"
    val sorted = entries.sortWith { (a, b) =>
      val c = Seq(
        Ordering[Option[Long]].compare(a._1, b._1), cmpD(a._2, b._2), cmpD(a._3, b._3),
        org.apache.spark.unsafe.types.UTF8String.fromString(text(a))
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(text(b))))
        .find(_ != 0).getOrElse(0)
      c < 0
    }
    sorted.map(text).mkString("(", "; ", ")")
  }

  /** Python's int * int / int as a float; null for totalShares = 0. */
  private def mulDiv(a: Option[BigInt], b: Option[BigInt], c: Option[BigInt]): Option[Double] =
    for { a <- a; b <- b; c <- c if c != 0 } yield
      if (a * b == 0) 0.0
      else new JBigDecimal((a * b).bigInteger)
        .divide(new JBigDecimal(c.bigInteger), new MathContext(80)).doubleValue

  private def model(s: InputSet): Seq[String] = {
    val listed = s.pools.map(p => p.id -> p).toMap
    s.tasks.map { case (u, p) =>
      val mine = (ru: Option[String], rp: Option[String]) =>
        ru.isDefined && rp.isDefined && ru == u && rp == p
      // deposits: the rows tied on the latest (blockNumber, ts), nulls lowest
      val deps = s.history.filter(h => mine(h.user, h.pool) && h.isDeposit.contains(true))
      val latest = if (deps.isEmpty) None else Some(deps.map(h => (h.block, h.ts)).max)
      val tied = deps.filter(h => latest.contains((h.block, h.ts)))
      def depositSum(f: Hist => Option[String]): Double = {
        val ds = tied.map(h => decimalOf(amountOf(f(h)), 6))
        if (ds.isEmpty || ds.contains(None)) 0.0 else ds.flatten.reduce(_ add _).doubleValue
      }
      val fees = s.fees.filter(f => mine(f.user, f.pool))
        .map(f => (f.binId.flatMap(_.toLongOption), amountOf(f.fx), amountOf(f.fy)))
      def feeSum(f: ((Option[Long], Double, Double)) => Double): Double =
        fees.flatMap(e => decimalOf(f(e), 12)).reduceOption(_ add _).fold(0.0)(_.doubleValue)
      val pool = p.flatMap(listed.get)
      val bins = s.bins.filter(b => mine(b.user, b.pool) && pool.isDefined)
      val sx = pool.flatMap(_.decX).map(d => math.pow(10.0, d))
      val sy = pool.flatMap(_.decY).map(d => math.pow(10.0, d))
      val ux = bins.map(b => mulDiv(b.rx, b.sh, b.tot))
      val uy = bins.map(b => mulDiv(b.ry, b.sh, b.tot))
      def amount(us: Seq[Option[Double]], sc: Option[Double]): Double = {
        // sum(): null without a value, else 0.0 + u1 + u2 + … in row order
        val sum = if (us.flatten.isEmpty) None else Some(us.flatten.foldLeft(0.0)(_ + _))
        (for { v <- sum; d <- sc } yield v / d).getOrElse(0.0)
      }
      val binFold = fold(bins.indices.map(i =>
        (bins(i).binId, ux(i).flatMap(v => sx.map(v / _)), uy(i).flatMap(v => sy.map(v / _)))))
      Seq(n(u), n(p), "1700000000", "2023-11-14 22:13:20",
        str(depositSum(_.ax)), str(depositSum(_.ay)),
        latest.flatMap(_._2).getOrElse("null"),
        str(amount(ux, sx)), str(amount(uy, sy)), binFold,
        str(feeSum(_._2)), str(feeSum(_._3)),
        fold(fees.map(e => (e._1, Some(e._2), Some(e._3))))).mkString(" | ")
    }
  }

  describe("snapshot summary model (80 seeded input sets in one build)") {
    it("every summary column equals the model, one row per task-table row") {
      val expected = sets.flatMap(model).sorted
      assert(sets.length == 80)
      assert(out.length == expected.length)
      out.zip(expected).foreach { case (got, want) => assert(got == want) }
    }

    it("the sets reach the edge cases they are meant to cover") {
      val hist = sets.flatMap(_.history)
      val bins = sets.flatMap(_.bins)
      assert(sets.exists(s => s.tasks.distinct.length < s.tasks.length)) // duplicate tasks
      assert(sets.exists(_.tasks.exists(_._1.isEmpty)))                  // null task key
      assert(hist.exists(_.user.isEmpty) && bins.exists(_.pool.isEmpty)) // null child keys
      assert(hist.exists(h => h.block.isEmpty && h.isDeposit.contains(true)))
      assert(sets.exists(s => s.tasks.exists { case (_, p) => !s.pools.exists(x => p.contains(x.id)) }))
      val amounts = hist.flatMap(h => h.ax ++ h.ay) ++ sets.flatMap(_.fees).flatMap(f => f.fx ++ f.fy)
      Seq("NaN", "Infinity", "-Infinity", "-0.0").foreach(a => assert(amounts.contains(a), a))
      assert(bins.exists(_.tot.contains(BigInt(0))))
      assert(bins.exists(_.rx.exists(_.bitLength > 120)))
    }
  }
}
