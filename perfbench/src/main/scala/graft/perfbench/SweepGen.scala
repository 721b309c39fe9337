package graft.perfbench

import graft.pipeline.LiveEndpoints
import graft.sources.BinsAbi

import java.math.{BigInteger, MathContext, BigDecimal => JBigDecimal}
import java.util.SplittableRandom

/** Size of one hourly sweep. `full` payloads have exactly the maximum
  * count per task; otherwise each task draws 0..max. `bins` counts the
  * populated bins of the ±1000 window around the active bin. */
final case class SweepShape(users: Int, pools: Int, history: Int, fees: Int,
                            bins: Int, full: Boolean) {
  def tasks: Int = users * pools
}

object SweepShape {
  /** Wide fan-out, light payloads: per-request and per-task cost. */
  val wide: SweepShape = SweepShape(users = 6, pools = 4, history = 5,
    fees = 5, bins = 5, full = false)
  /** Few tasks, full payloads: decode and bin math per row. */
  val deep: SweepShape = SweepShape(users = 2, pools = 2, history = 100,
    fees = 200, bins = 2001, full = true)
}

/** Values the generator computes for one (user, pool) task, independent
  * of the engine: exact decimal sums and the exact rational bin share. */
final case class Expected(depositX: JBigDecimal, feesX: JBigDecimal,
                          tokenX: JBigDecimal, recentDeposit: Option[String])

/** One tick's inputs: what the canned node serves, and what the snapshot
  * must then contain. */
final case class TickInputs(tick: Int, tasks: Seq[(String, String)],
                            http: Map[String, Array[String]],
                            rpc: Map[String, String],
                            expected: Map[(String, String), Expected]) {
  /** Canonical byte form, for the determinism test. */
  def bytes: Array[Byte] = {
    val sb = new StringBuilder
    tasks.foreach { case (u, p) => sb.append(u).append(',').append(p).append('\n') }
    http.toSeq.sortBy(_._1).foreach { case (u, ls) =>
      sb.append(u).append('\n'); ls.foreach(l => sb.append(l).append('\n')) }
    rpc.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(k).append('=').append(v).append('\n') }
    sb.toString.getBytes("UTF-8")
  }
}

/** Deterministic payload generator for the reference's hourly sweep.
  * Every value is a function of (seed, tick); users and pools depend on
  * the seed only, as they come from the reference's config. */
object SweepGen {
  val ActiveBase = 8388608L // 2^23, the Liquidity Book centre bin
  val Window = 1000
  val T0 = 1704067200L // 2024-01-01T00:00:00Z

  val config: LiveEndpoints.Config = LiveEndpoints.Config(
    dexBase = "http://dex.bench", feesBase = "http://fees.bench",
    rpcEndpoint = "http://node.bench/rpc",
    contract = "0x" + "ab" * 20, apiKey = None,
    startTimeUnix = T0, endTimeUnix = T0 + 10L * 365 * 86400)

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  def timestamp(unix: Long): String = fmt.format(java.time.Instant.ofEpochSecond(unix))

  private def address(r: SplittableRandom): String = {
    val b = new Array[Byte](20); r.nextBytes(b)
    "0x" + b.map(x => f"${x & 0xff}%02x").mkString
  }
  /** A decimal with six fraction digits, as the APIs render amounts. */
  private def micros(r: SplittableRandom, maxUnits: Long): JBigDecimal =
    JBigDecimal.valueOf(r.nextLong(1, maxUnits * 1000000L), 6)

  def addresses(seed: Long, shape: SweepShape): (Seq[String], Seq[String]) = {
    val r = new SplittableRandom(seed)
    (Seq.fill(shape.users)(address(r)), Seq.fill(shape.pools)(address(r)))
  }

  def tick(shape: SweepShape, seed: Long, tick: Int): TickInputs = {
    val c = config
    val (users, pools) = addresses(seed, shape)
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + tick)
    def count(max: Int): Int = if (shape.full) max else r.nextInt(max + 1)
    val decimalsX = Seq(6, 8, 18); val decimalsY = Seq(6, 18)

    final case class Pool(active: Long, decX: Int, json: String => String)
    val poolInfo = pools.map { p =>
      val active = ActiveBase + r.nextInt(-500, 501)
      val decX = decimalsX(r.nextInt(decimalsX.size))
      val decY = decimalsY(r.nextInt(decimalsY.size))
      val (vol, liq, fee) = (micros(r, 1000000), micros(r, 10000000), micros(r, 10000))
      val (px, py) = (micros(r, 100), micros(r, 2))
      p -> Pool(active, decX, filterBy =>
        s"""{"pairAddress":"$p","name":"TKX-TKY","filterBy":"$filterBy","volumeUsd":"$vol","liquidityUsd":"$liq","feesUsd":"$fee","reserveX":"${micros(r, 100000)}","reserveY":"${micros(r, 100000)}","lbBinStep":"25","lbBaseFeePct":"0.1","lbMaxFeePct":"1.5","protocolSharePct":"10.0","activeBinId":"$active","liquidityDepthMinus":"1000.0","liquidityDepthPlus":"1100.0","liquidityDepthTokenX":"40.5","liquidityDepthTokenY":"26000.0","tokenX":{"address":"${p.take(12)}","symbol":"TKX","decimals":"$decX","priceUsd":"$px"},"tokenY":{"address":"${p.takeRight(12)}","symbol":"TKY","decimals":"$decY","priceUsd":"$py"}}""")
    }.toMap

    val http = Map.newBuilder[String, Array[String]]
    pools.foreach { p =>
      Seq("1d", "1h").foreach { f =>
        http += LiveEndpoints.poolStatsUrl(c, p, f) -> Array(poolInfo(p).json(f))
      }
    }
    val tasks = for (u <- users; p <- pools) yield (u, p)
    val rpc = Map.newBuilder[String, String]
    val expected = Map.newBuilder[(String, String), Expected]
    tasks.foreach { case (u, p) =>
      val pool = poolInfo(p)
      // history: ascending blocks, the last `tied` deposits share the max
      // block (and so the timestamp): the reference keeps every tied row
      val n = count(shape.history)
      var block = 40000000L + r.nextInt(100000)
      val events = (0 until n).map { _ =>
        block += r.nextInt(1, 50)
        (block, r.nextInt(10) < 7, micros(r, 1000), micros(r, 1000))
      }
      val tied = if (n >= 3) r.nextInt(1, 4) else 1
      val hist = events.zipWithIndex.map { case ((b, dep, x, y), i) =>
        if (i >= n - tied) (events.last._1, true, x, y) else (b, dep, x, y)
      }
      def ts(b: Long): Long = T0 + (b - 40000000L) * 2
      http += LiveEndpoints.userHistoryUrl(c, u, p) -> hist.map { case (b, dep, x, y) =>
        s"""{"user_address":"$u","poolAddress":"$p","timestamp":"${timestamp(ts(b))}","isDeposit":$dep,"pairName":"TKX-TKY","binId":"${pool.active}","blockNumber":$b,"tokenX":{"amount":"$x","price":"1.0"},"tokenY":{"amount":"$y","price":"1.0"}}"""
      }.toArray
      val deposits = hist.filter(_._2)
      val (depositX, recent) =
        if (deposits.isEmpty) (JBigDecimal.ZERO, None)
        else {
          val maxB = deposits.map(_._1).max
          (deposits.filter(_._1 == maxB).map(_._3).reduce(_ add _),
           Some(timestamp(ts(maxB))))
        }

      val nf = count(shape.fees)
      val fees = (0 until nf).map(i => (pool.active - nf / 2 + i, micros(r, 10), micros(r, 10)))
      http += LiveEndpoints.feesEarnedUrl(c, u, p) -> fees.map { case (b, fx, fy) =>
        s"""{"user_address":"$u","poolAddress":"$p","binId":"$b","accruedFeesX":"$fx","accruedFeesY":"$fy"}"""
      }.toArray
      val feesX = fees.map(_._2).foldLeft(JBigDecimal.ZERO)(_ add _)

      // populated bins: uint128-scale reserves and shares, all < 10^38 so
      // they fit the Decimal(38,0) bins schema
      val nb = count(shape.bins)
      val ids =
        if (nb == 2 * Window + 1) (-Window to Window).map(pool.active + _)
        else Iterator.continually(pool.active + r.nextInt(-Window, Window + 1))
          .distinct.take(nb).toSeq.sorted
      val bins = ids.map { id =>
        val total = new BigInteger(120, new java.util.Random(r.nextLong())).add(BigInteger.ONE)
        val shares = total.multiply(BigInteger.valueOf(r.nextLong(0, 1000001)))
          .divide(BigInteger.valueOf(1000000))
        (id, new BigInteger(110, new java.util.Random(r.nextLong())),
          new BigInteger(110, new java.util.Random(r.nextLong())), shares, total)
      }
      rpc += s"$p,$u" -> BinsAbi.encodeResult(pool.active, bins)
      val mc = MathContext.DECIMAL128
      val tokenX = bins.foldLeft(JBigDecimal.ZERO) { case (acc, (_, rx, _, sh, tot)) =>
        acc.add(new JBigDecimal(rx.multiply(sh)).divide(new JBigDecimal(tot), mc))
      }.divide(JBigDecimal.TEN.pow(pool.decX), mc)
      expected += (u, p) -> Expected(depositX, feesX, tokenX, recent)
    }
    TickInputs(tick, tasks, http.result(), rpc.result(), expected.result())
  }
}
