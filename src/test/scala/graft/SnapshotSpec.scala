package graft

import graft.model.Schemas
import graft.pipeline.Snapshot
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Golden-output test of the full reference pipeline (SURVEY.md §5.5):
  * fixture payloads shaped exactly like the four API responses + RPC
  * result, expectations hand-computed from the reference's formulas.
  * Covers: string-typed numbers (P7), argmax tie-keeping (A1), the
  * empty-deposits branch (F5), empty fee/bin arrays, uint-scale bin math
  * (E2-E4), and the 46-column report layout (P6).
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def json(rows: Seq[String], schema: org.apache.spark.sql.types.StructType) =
    spark.read.schema(schema).json(rows.toDS)

  private lazy val pool1d = json(Seq(
    """{"pairAddress":"P1","name":"AVAX-USDC","filterBy":"1d","volumeUsd":"50000.0",
       "liquidityUsd":"250000.0","feesUsd":125.0,"reserveX":"8000.5","reserveY":"49000.25",
       "lbBinStep":"25","lbBaseFeePct":"0.1","lbMaxFeePct":"1.5","protocolSharePct":"10.0",
       "activeBinId":"8388608","liquidityDepthMinus":"1000.0","liquidityDepthPlus":"1100.0",
       "liquidityDepthTokenX":"40.5","liquidityDepthTokenY":"26000.0",
       "tokenX":{"address":"0xA","symbol":"AVAX","decimals":"18","priceUsd":"25.0"},
       "tokenY":{"address":"0xB","symbol":"USDC","decimals":"6","priceUsd":"1.0"}}"""
      .replaceAll("\n\\s*", "")), Schemas.poolStats)

  private lazy val pool1h = json(Seq(
    """{"pairAddress":"P1","filterBy":"1h","volumeUsd":"2000.5","feesUsd":"5.25"}"""),
    Schemas.poolStats)

  private lazy val history = json(Seq(
    // U1: four deposits + one withdrawal; block 120 has a (ts) tie of two
    // bins that must BOTH be kept, plus an earlier-ts row that must drop.
    """{"user_address":"U1","poolAddress":"P1","timestamp":"2024-01-05 10:00:00","isDeposit":true,"blockNumber":100,"tokenX":{"amount":"1.5","price":"24.0"},"tokenY":{"amount":"100","price":"1.0"}}""",
    """{"user_address":"U1","poolAddress":"P1","timestamp":"2024-01-06 10:00:00","isDeposit":true,"blockNumber":120,"tokenX":{"amount":"2.0","price":"25.0"},"tokenY":{"amount":"50","price":"1.0"}}""",
    """{"user_address":"U1","poolAddress":"P1","timestamp":"2024-01-06 10:00:00","isDeposit":true,"blockNumber":120,"tokenX":{"amount":"0.5","price":"25.0"},"tokenY":{"amount":"25","price":"1.0"}}""",
    """{"user_address":"U1","poolAddress":"P1","timestamp":"2024-01-06 09:00:00","isDeposit":true,"blockNumber":120,"tokenX":{"amount":"9.9","price":"25.0"},"tokenY":{"amount":"999","price":"1.0"}}""",
    """{"user_address":"U1","poolAddress":"P1","timestamp":"2024-01-07 10:00:00","isDeposit":false,"blockNumber":130,"tokenX":{"amount":"2.5","price":"25.0"},"tokenY":{"amount":"75","price":"1.0"}}""",
    // U2: withdrawals only → empty-deposits branch; missing tokenY object
    """{"user_address":"U2","poolAddress":"P1","timestamp":"2024-01-05 12:00:00","isDeposit":false,"blockNumber":101,"tokenX":{"amount":"1.0","price":"25.0"}}"""),
    Schemas.userHistory)

  private lazy val fees = json(Seq(
    """{"user_address":"U1","poolAddress":"P1","binId":"8388608","accruedFeesX":"0.5","accruedFeesY":0.25}""",
    """{"user_address":"U1","poolAddress":"P1","binId":"8388609","accruedFeesX":1.25,"accruedFeesY":"0.75"}"""),
    Schemas.feesEarned)

  private lazy val bins = json(Seq(
    // exact-integer products chosen to be exactly representable in double
    """{"user_address":"U1","poolAddress":"P1","binId":8388608,"reserveX":4000000000000000000,"reserveY":0,"shares":500,"totalShares":1000}""",
    """{"user_address":"U1","poolAddress":"P1","binId":8388609,"reserveX":1000000000000000000,"reserveY":500000000,"shares":250,"totalShares":1000}"""),
    Schemas.binReserves)

  private lazy val tasks = Seq(("U1", "P1"), ("U2", "P1"))
    .toDF("user_address", "pool_address")

  private lazy val out = Snapshot.build(
    Snapshot.Inputs(tasks, pool1d, pool1h, history, fees, bins),
    nowUnix = lit(1700000000L), nowStr = lit("2023-11-14 22:13:20"))

  private lazy val rows: Map[String, Row] =
    out.collect().map(r => r.getAs[String]("user_address") -> r).toMap

  describe("snapshot pipeline") {
    it("emits the canonical 46-column report layout") {
      assert(out.columns.length == 46)
      assert(out.columns.take(4).toSeq ==
        Seq("current_unix_timestamp", "timestamp(datetime_pst)", "pool_name", "pool_address"))
      assert(out.columns.contains("user_%_of_pool_liquidity"))
      assert(out.columns.contains("bin_distribution(bin id: token_x_amount, token_y_amounts)"))
    }

    it("A1/A2: sums ONLY the tied latest-deposit rows") {
      val r = rows("U1")
      assert(r.getAs[Double]("total_tokenX_amount_initial_deposit") == 2.5)
      assert(r.getAs[Double]("total_tokenY_amount_initial_deposit") == 75.0)
      assert(r.getAs[String]("MostRecentDepositTime") == "2024-01-06 10:00:00")
    }

    it("F5: empty-deposit branch yields zero totals and null time") {
      val r = rows("U2")
      assert(r.getAs[Double]("total_tokenX_amount_initial_deposit") == 0.0)
      assert(r.getAs[Double]("total_tokenY_amount_initial_deposit") == 0.0)
      assert(r.getAs[String]("MostRecentDepositTime") == null)
      assert(r.getAs[String]("fees_per_bin(bin_id: token_x, token_y_amounts)") == "()")
      assert(r.getAs[Double]("token_x_amount") == 0.0)
    }

    it("A4/A5: fee totals and ordered fold blob (string-typed numbers coerced)") {
      val r = rows("U1")
      assert(r.getAs[Double]("accrued_fees_token_x") == 1.75)
      assert(r.getAs[Double]("accrued_fees_token_y") == 1.0)
      assert(r.getAs[String]("fees_per_bin(bin_id: token_x, token_y_amounts)") ==
        "(8388608: 0.5, 0.25; 8388609: 1.25, 0.75)")
    }

    it("E2-E4: exact uint-scale bin math and distribution blob") {
      val r = rows("U1")
      assert(r.getAs[Double]("token_x_amount") == 2.25)  // (2e18 + 2.5e17) / 1e18
      assert(r.getAs[Double]("token_y_amount") == 125.0) // 1.25e8 / 1e6
      assert(r.getAs[String]("bin_distribution(bin id: token_x_amount, token_y_amounts)") ==
        "(8388608: 2.0, 0.0; 8388609: 0.25, 125.0)")
    }

    it("E1,E5-E13: derived metrics match hand-computed reference formulas") {
      val r = rows("U1")
      assert(r.getAs[Double]("value_if_held(USD)") == 2.5 * 25.0 + 75.0 * 1.0)
      assert(r.getAs[Double]("token_x(USD)") == 25.0 * 2.25)
      assert(r.getAs[Double]("token_y(USD)") == 125.0)
      assert(r.getAs[Double]("total_token_value(USD)") == 181.25)
      assert(r.getAs[Double]("accrued_fees_token_x(USD)") == 1.75 * 25.0)
      assert(r.getAs[Double]("impermanent_loss(USD)") == 137.5 - 181.25)
      assert(r.getAs[Double]("user_%_of_pool_liquidity") == 181.25 / 250000.0 * 100)
      assert(r.getAs[Double]("fees_annual") == 125.0 * 365)
      assert(r.getAs[Double]("APR%") == 45625.0 / 250000.0 * 100)
      assert(r.getAs[Double]("APY%") == (math.pow(1.0 + 125.0 / 250000.0, 365) - 1) * 100)
      assert(r.getAs[Double]("APR_1d%") == 125.0 / 250000.0 * 100)
    }

    it("P7: string-typed pool stats are coerced, 1h stats joined positionally-by-key") {
      val r = rows("U1")
      assert(r.getAs[Double]("pool[liquidity]") == 250000.0)
      assert(r.getAs[Double]("pool[volume](1h)") == 2000.5)
      assert(r.getAs[Double]("pool[total_fees(USD)](1h)") == 5.25)
      assert(r.getAs[Int]("lbBinStep") == 25)
    }
  }

  // Task-table semantics: U1/P1 is listed twice; U2/P2 names a pool that
  // pool1d does not list; U3/P1 and U1/P2 have child rows but no task.
  private lazy val edgeOut = Snapshot.build(
    Snapshot.Inputs(
      Seq(("U1", "P1"), ("U1", "P1"), ("U2", "P2")).toDF("user_address", "pool_address"),
      pool1d, pool1h,
      history.unionByName(json(Seq(
        """{"user_address":"U3","poolAddress":"P1","timestamp":"2024-01-08 10:00:00","isDeposit":true,"blockNumber":200,"tokenX":{"amount":"7.0"},"tokenY":{"amount":"7"}}"""),
        Schemas.userHistory)),
      fees.unionByName(json(Seq(
        """{"user_address":"U3","poolAddress":"P1","binId":"8388608","accruedFeesX":"9.0","accruedFeesY":"9.0"}""",
        """{"user_address":"U1","poolAddress":"P2","binId":"8388608","accruedFeesX":"9.0","accruedFeesY":"9.0"}"""),
        Schemas.feesEarned)),
      bins.unionByName(json(Seq(
        """{"user_address":"U3","poolAddress":"P1","binId":8388608,"reserveX":1000,"reserveY":1000,"shares":1,"totalShares":1}""",
        """{"user_address":"U2","poolAddress":"P2","binId":8388608,"reserveX":1000,"reserveY":1000,"shares":1,"totalShares":1}"""),
        Schemas.binReserves))),
    nowUnix = lit(1700000000L), nowStr = lit("2023-11-14 22:13:20")).collect()

  describe("snapshot task semantics (one output row per task-table row)") {
    it("history, fee and bin rows whose (user, pool) is not a task produce no row") {
      assert(edgeOut.map(r => (r.getAs[String]("user_address"), r.getAs[String]("pool_address")))
        .sorted.toSeq == Seq(("U1", "P1"), ("U1", "P1"), ("U2", "P2")))
    }

    it("bins of a pool missing from pool1d are dropped") {
      val r = edgeOut.find(_.getAs[String]("pool_address") == "P2").get
      assert(r.getAs[String]("pool_name") == null)
      assert(r.getAs[String]("bin_distribution(bin id: token_x_amount, token_y_amounts)") == "()")
      assert(r.getAs[Double]("token_x_amount") == 0.0)
    }

    it("a task listed twice yields two rows, each with the task's own totals") {
      val u1 = edgeOut.filter(_.getAs[String]("user_address") == "U1")
      assert(u1.length == 2)
      u1.foreach { r =>
        assert(r.getAs[Double]("total_tokenX_amount_initial_deposit") == 2.5)
        assert(r.getAs[Double]("accrued_fees_token_x") == 1.75)
        assert(r.getAs[Double]("token_x_amount") == 2.25)
        assert(r.getAs[String]("fees_per_bin(bin_id: token_x, token_y_amounts)") ==
          "(8388608: 0.5, 0.25; 8388609: 1.25, 0.75)")
      }
    }
  }
}
