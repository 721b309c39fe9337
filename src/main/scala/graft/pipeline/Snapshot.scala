package graft.pipeline

import graft.functions.TaskSummary
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's whole per-(user,pool) pipeline (main.py:20-351,
  * SURVEY.md §3 EP2/EP3 + transform tail) as ONE declarative DataFrame
  * program — Spark-first, not a loop port:
  *
  *  - the reference iterates (user, pool) tasks serially (main.py:11-12);
  *    here the task table drives every step, so ALL tasks flow through a
  *    single Catalyst plan and scale horizontally;
  *  - the task, deposit, fee and bin rows travel as ONE tagged union
  *    through ONE exchange on (user_address, pool_address) into ONE
  *    aggregate, [[graft.functions.TaskSummary]], a single fold that
  *    computes every per-task summary together (the latest-deposit
  *    tie-keep, the decimal sums, the bin-amount sums, both string
  *    folds); per-row work (coercion, bin math) runs map-side, before
  *    the exchange, and each fold is sorted and rendered once, in the
  *    reduce task;
  *  - the wall-clock columns ride on the task rows as data, so the
  *    generated code is the same on every tick;
  *  - pool stats are dimension-sized → broadcast joins;
  *  - report column names (with % [ ] ( ) characters, main.py:293-340)
  *    are applied ONLY in the final select; everything internal uses
  *    sanitized names (SURVEY.md §7.4).
  *
  * Division semantics: pandas yields ±inf on x/0 then replaces with NaN
  * (main.py:266-269,284-286); we emit null directly (same CSV rendering:
  * empty cell).
  */
object Snapshot {

  /** All inputs at task granularity. `tasks` = (user_address,
    * pool_address) — the reference's config cross join (J5). */
  final case class Inputs(
      tasks: DataFrame,      // user_address, pool_address
      pool1d: DataFrame,     // Schemas.poolStats with filterBy='1d'
      pool1h: DataFrame,     // Schemas.poolStats with filterBy='1h'
      history: DataFrame,    // Schemas.userHistory
      fees: DataFrame,       // Schemas.feesEarned
      bins: DataFrame)       // Schemas.binReserves

  private def num(c: Column): Column = c.try_cast("double")
  private def safeDiv(n: Column, d: Column): Column = when(d =!= 0, n / d)

  /** Builds the 46-column snapshot, one row per task. Wall-clock columns
    * are injected so tests can pin them (SURVEY.md §7.4 non-determinism);
    * they must not refer to columns of the inputs. */
  def build(in: Inputs, nowUnix: Column, nowStr: Column): DataFrame = {
    // ---- P1/P2: pool stats 1d, flatten + coerce (sanitized names) ----
    val p1d = in.pool1d.select(
      col("pairAddress").as("pool_address"),
      col("name").as("pool_name"),
      num(col("volumeUsd")).as("volume_1d"),
      num(col("liquidityUsd")).as("liquidity"),
      num(col("feesUsd")).as("fees_1d"),
      col("tokenX.address").as("token_x_address"),
      col("tokenY.address").as("token_y_address"),
      col("tokenX.symbol").as("token_x_symbol"),
      col("tokenY.symbol").as("token_y_symbol"),
      col("tokenX.decimals").try_cast("int").as("token_x_decimals"),
      col("tokenY.decimals").try_cast("int").as("token_y_decimals"),
      num(col("reserveX")).as("pool_token_x_amount"),
      num(col("reserveY")).as("pool_token_y_amount"),
      num(col("tokenX.priceUsd")).as("token_x_price"),
      num(col("tokenY.priceUsd")).as("token_y_price"),
      col("lbBinStep").try_cast("int").as("lbBinStep"),
      num(col("lbBaseFeePct")).as("base_fee_pct"),
      num(col("lbMaxFeePct")).as("max_fee_pct"),
      num(col("protocolSharePct")).as("protocol_fee_pct"),
      col("activeBinId").try_cast("int").as("activeBinId"),
      num(col("liquidityDepthMinus")).as("liq_depth_minus_usd"),
      num(col("liquidityDepthPlus")).as("liq_depth_plus_usd"),
      num(col("liquidityDepthTokenX")).as("liq_depth_token_x"),
      num(col("liquidityDepthTokenY")).as("liq_depth_token_y"))

    // ---- P3/J3: 1h window stats (horizontal concat → keyed join) ----
    val p1h = in.pool1h.select(
      col("pairAddress").as("pool_address"),
      num(col("volumeUsd")).as("volume_1h"),
      num(col("feesUsd")).as("fees_1h"))

    // ---- the union: one row per task, deposit, fee and bin ----
    // Each child carries a `kind` tag and its payload in its own columns
    // (null elsewhere). Child rows with a null key are dropped here: the
    // key equi-join they replace never matched them to a task.
    val keys = Seq(col("user_address"), col("pool_address"))
    def keyed(df: DataFrame, kind: Int, payload: Column*): DataFrame =
      df.select(keys ++ (lit(kind).as("kind") +: payload): _*)
        .na.drop(Seq("user_address", "pool_address"))

    // The tick's wall-clock values travel as data on the task rows: the
    // projection over the driver-local task relation folds into that
    // relation, so no tick-varying literal reaches generated code and
    // every tick reuses the same compiled stages.
    val taskRows = in.tasks.select(keys ++ Seq(lit(TaskSummary.Task).as("kind"),
      nowUnix.as("now_unix"), nowStr.as("now_str")): _*)

    // P4/P7/P8 + F1: deposits, keyed for the A1 tie-keep below
    val deposits = keyed(in.history
        .withColumnRenamed("poolAddress", "pool_address")
        .filter(col("isDeposit") === true),
      TaskSummary.Deposit,
      col("blockNumber").cast("long").as("id"),
      to_timestamp(col("timestamp")).as("ts"),
      coalesce(num(col("tokenX.amount")), lit(0.0)).cast(DecimalType(38, 6)).as("dx"),
      coalesce(num(col("tokenY.amount")), lit(0.0)).cast(DecimalType(38, 6)).as("dy"))

    // A4/A5: fee rows
    val feeRows = keyed(in.fees.withColumnRenamed("poolAddress", "pool_address"),
      TaskSummary.Fee,
      col("binId").try_cast("long").as("id"),
      coalesce(num(col("accruedFeesX")), lit(0.0)).as("x"),
      coalesce(num(col("accruedFeesY")), lit(0.0)).as("y"))

    // E2-E4: on-chain bin math per bin (S7 tail) — Python's
    // `reserveX * shares / total_shares` (arbitrary-precision int*int,
    // then true division to float, main.py:232-233): BinMath.mulDiv
    // multiplies exactly on BigInteger, so uint128-scale reserves/shares
    // (products beyond Decimal(38,0)'s 38-digit cap) stay exact instead
    // of overflowing to null, and rounds the quotient once, correctly;
    // totalShares=0 yields null (engine policy). The inner join drops
    // bins of a pool missing from pool1d.
    val binRows = {
      val ux = graft.functions.BinMath.mulDivDouble(
        col("reserveX"), col("shares"), col("totalShares"))
      val uy = graft.functions.BinMath.mulDivDouble(
        col("reserveY"), col("shares"), col("totalShares"))
      val sx = pow(lit(10.0), col("token_x_decimals"))
      val sy = pow(lit(10.0), col("token_y_decimals"))
      keyed(in.bins
          .join(broadcast(p1d.select(col("pool_address"), col("token_x_decimals"),
                                     col("token_y_decimals"))),
                col("poolAddress") === col("pool_address"))
          .drop("poolAddress"),
        TaskSummary.Bin,
        col("binId").cast("long").as("id"), (ux / sx).as("x"), (uy / sy).as("y"),
        ux.as("ux"), uy.as("uy"), sx.as("sx"), sy.as("sy"))
    }

    // ---- the one exchange + the one aggregate (A1/A2, A4/A5, A5) ----
    // The union is hash-partitioned BEFORE the aggregate, so the
    // aggregate runs whole in the reduce tasks: a map-side partial
    // aggregate cannot shrink the folds' lists, yet it would run in every
    // scan partition of the union. TaskSummary folds each task's rows in
    // one buffer: the task count and wall-clock values, the latest
    // deposit key (A1: rank-1 ties kept, nulls lowest, as
    // `Relational.latestByKey`'s rank orders them) with the tied deposit
    // sums (A2), the fee sums, Σux/Σuy with the first sx/sy, and both
    // folds, sorted and rendered as `Relational.stringFold` renders them.
    val summary = taskRows
      .unionByName(deposits, allowMissingColumns = true)
      .unionByName(feeRows, allowMissingColumns = true)
      .unionByName(binRows, allowMissingColumns = true)
      .repartition(keys: _*)
      .groupBy(keys: _*)
      .agg(TaskSummary(kind = col("kind"), id = col("id"), ts = col("ts"),
        x = col("x"), y = col("y"), dx = col("dx"), dy = col("dy"),
        ux = col("ux"), uy = col("uy"), sx = col("sx"), sy = col("sy"),
        nowUnix = col("now_unix"), nowStr = col("now_str")).as("s"))
      .select(keys :+ col("s.*"): _*)
      // tasks only; a task listed n times yields n rows, as a join would
      .filter(col("tasks") > 0)
      .withColumn("tasks", explode(array_repeat(lit(1), col("tasks").cast("int"))))

    // ---- J1/J2/J5: summaries ⟕ dimensions (all broadcast-sized) ----
    val joined = summary
      .join(broadcast(p1d), Seq("pool_address"), "left")
      .join(broadcast(p1h), Seq("pool_address"), "left")

    // ---- F5, E1, E5-E13, P5/P6: one select in the 46-column order ----
    // F5: aggregate-or-default — the reference always materializes the
    // summary frames, with zero totals and "()" blobs when the source
    // arrays are empty (main.py:143-153, 158-181, 227-250)
    val zero = lit(0.0)
    val orZero = (c: String) => coalesce(col(c).cast("double"), zero)
    val depositX = orZero("deposit_x")
    val depositY = orZero("deposit_y")
    val price = (c: String) => col(s"token_${c}_price")
    val tokenX = coalesce(col("sum_ux") / col("first_sx"), zero)
    val tokenY = coalesce(col("sum_uy") / col("first_sy"), zero)
    val feesX = orZero("fees_x")
    val feesY = orZero("fees_y")
    val valueIfHeld = depositX * price("x") + depositY * price("y")
    val tokenXUsd = price("x") * tokenX
    val tokenYUsd = price("y") * tokenY
    val totalValue = tokenXUsd + tokenYUsd
    val feesAnnual = col("fees_1d") * 365
    val liquidity = col("liquidity")

    val report: Seq[(String, Column)] = Seq(
      "current_unix_timestamp" -> col("now_unix"),
      "timestamp(datetime_pst)" -> col("now_str"),
      "pool_name" -> col("pool_name"),
      "pool_address" -> col("pool_address"),
      "pool[volume](1h)" -> col("volume_1h"),
      "pool[liquidity]" -> liquidity,
      "pool[total_fees(USD)](1h)" -> col("fees_1h"),
      "lbBinStep" -> col("lbBinStep"),
      "base_fee%" -> col("base_fee_pct"),
      "max_fee%" -> col("max_fee_pct"),
      "protocol_fee%" -> col("protocol_fee_pct"),
      "token_x_symbol" -> col("token_x_symbol"),
      "token_y_symbol" -> col("token_y_symbol"),
      "token_x_address" -> col("token_x_address"),
      "token_y_address" -> col("token_y_address"),
      "pool[token_x_amount]" -> col("pool_token_x_amount"),
      "pool[token_y_amount]" -> col("pool_token_y_amount"),
      "token_x_price" -> price("x"),
      "token_y_price" -> price("y"),
      "activeBinId" -> col("activeBinId"),
      "liquidityDepth+2%TokenX" -> col("liq_depth_token_x"),
      "liquidityDepth-2%TokenY" -> col("liq_depth_token_y"),
      "liquidityDepth+2%(USD)" -> col("liq_depth_plus_usd"),
      "liquidityDepth-2%(USD)" -> col("liq_depth_minus_usd"),
      "user_address" -> col("user_address"),
      "total_tokenX_amount_initial_deposit" -> depositX,
      "total_tokenY_amount_initial_deposit" -> depositY,
      "MostRecentDepositTime" ->
        date_format(col("latest_ts"), "yyyy-MM-dd HH:mm:ss"),
      "token_x_amount" -> tokenX,
      "token_y_amount" -> tokenY,
      "token_x(USD)" -> tokenXUsd,
      "token_y(USD)" -> tokenYUsd,
      "bin_distribution(bin id: token_x_amount, token_y_amounts)" -> col("bin_distribution"),
      "total_token_value(USD)" -> totalValue,
      "accrued_fees_token_x" -> feesX,
      "accrued_fees_token_y" -> feesY,
      "accrued_fees_token_x(USD)" -> feesX * price("x"),
      "accrued_fees_token_y(USD)" -> feesY * price("y"),
      "fees_per_bin(bin_id: token_x, token_y_amounts)" -> col("fees_per_bin"),
      "value_if_held(USD)" -> valueIfHeld,
      "impermanent_loss(USD)" -> (valueIfHeld - totalValue),
      "user_%_of_pool_liquidity" -> safeDiv(totalValue, liquidity) * 100,
      "fees_annual" -> feesAnnual,
      "APR%" -> safeDiv(feesAnnual, liquidity) * 100,
      "APY%" -> when(liquidity =!= 0,
        (pow(lit(1.0) + col("fees_1d") / liquidity, 365) - 1) * 100),
      "APR_1d%" -> safeDiv(col("fees_1d"), liquidity) * 100)
    joined.select(report.map { case (name, c) => c.as(name) }: _*)
  }
}
