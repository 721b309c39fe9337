package graft.pipeline

import graft.model.Schemas
import graft.sources.FixtureJsonSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Config-driven LIVE mode for the extract plane — the reference's
  * actual operating mode (main.py:22-42 REST, main.py:203-218 RPC),
  * one environment variable away.
  *
  * The reference hardcodes its endpoints and merges per-request params
  * onto a base param set (main.py:30-42); here the same URL algebra is
  * explicit and testable, and the result feeds the connectors that
  * fetch FROM THE EXECUTORS ([[graft.sources.HttpJsonSource]],
  * [[graft.sources.RpcBinsSource]]) instead of the reference's serial
  * driver loop.
  *
  * Gating: [[fromEnv]] returns None unless `GRAFT_LIVE_DEX_BASE` is
  * set — the OFFLINE default. Nothing in this repo's test or bench
  * path ever constructs a live config (this sandbox has zero egress);
  * LiveEndpointsSpec drives the plumbing end-to-end through canned
  * transports instead.
  *
  * Scale note: the per-(user,pool) URL list is tasks-table-sized. Each
  * URL becomes one input partition of the HTTP scan, so a 10⁵-task
  * sweep fans out across the cluster bounded only by executor slots;
  * the RPC side batches `batchSize` calls per partition POST.
  */
object LiveEndpoints {

  /** Everything main.py reads from config.py + its hardcoded endpoints
    * (config_example.py:1-16, main.py:44,104,155,203-205,213-214). */
  final case class Config(
      dexBase: String,            // main.py:44,104  (https://api.lfj.dev)
      feesBase: String,           // main.py:155     (https://api.traderjoexyz.dev)
      rpcEndpoint: String,        // main.py:203     (avalanche C-chain RPC)
      contract: String,           // main.py:205     (bins helper contract)
      apiKey: Option[String],     // main.py:22      (x-traderjoe-api-key)
      startTimeUnix: Long,        // main.py:24-28   (config window)
      endTimeUnix: Long,
      pageSize: Int = 100,        // main.py:31
      idsPlus: Long = 1000,       // main.py:213-214
      idsMinus: Long = 1000,
      batchSize: Int = 64)

  /** Offline default = None. Live mode needs the DEX base plus the
    * time window; the rest defaults to the reference's constants. */
  def fromEnv(env: Map[String, String] = sys.env): Option[Config] =
    env.get("GRAFT_LIVE_DEX_BASE").map { dex =>
      Config(
        dexBase = dex,
        feesBase = env.getOrElse("GRAFT_LIVE_FEES_BASE", dex),
        rpcEndpoint = env.getOrElse("GRAFT_LIVE_RPC",
          "https://api.avax.network/ext/bc/C/rpc"),
        contract = env.getOrElse("GRAFT_LIVE_CONTRACT",
          "0xA5c68C9E55Dde3505e60c4B5eAe411e2977dfB35"),
        apiKey = env.get("GRAFT_LIVE_API_KEY"),
        startTimeUnix = env.getOrElse("GRAFT_LIVE_START_UNIX", "0").toLong,
        endTimeUnix = env.getOrElse("GRAFT_LIVE_END_UNIX",
          String.valueOf(Long.MaxValue / 2)).toLong,
        batchSize = env.getOrElse("GRAFT_LIVE_BATCH_SIZE", "64").toInt)
    }

  private def baseParams(c: Config): Seq[(String, String)] = Seq(
    "pageSize" -> c.pageSize.toString,
    "startTime" -> c.startTimeUnix.toString,
    "endTime" -> c.endTimeUnix.toString)

  private def withParams(url: String, params: Seq[(String, String)]): String =
    url + params.map { case (k, v) =>
      k + "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("?", "&", "")

  /** main.py:44-51: pool stats with the base params + filterBy merged. */
  def poolStatsUrl(c: Config, pool: String, filterBy: String): String =
    withParams(s"${c.dexBase}/v1/pools/avalanche/$pool",
      baseParams(c) :+ ("filterBy" -> filterBy))

  /** main.py:104: user history under the base params. */
  def userHistoryUrl(c: Config, user: String, pool: String): String =
    withParams(s"${c.dexBase}/v1/user/avalanche/history/$user/$pool", baseParams(c))

  /** main.py:155: fees earned, the second API host. */
  def feesEarnedUrl(c: Config, user: String, pool: String): String =
    withParams(s"${c.feesBase}/v1/user/fees-earned/avalanche/$user/$pool",
      baseParams(c))

  /** The reference's auth header (main.py:22), as the connectors'
    * `headers` option wire format. */
  def headerSpec(c: Config): String =
    c.apiKey.map(k => s"x-traderjoe-api-key: $k").getOrElse("")

  private def httpRead(spark: SparkSession, c: Config, payload: String,
                       urls: Seq[String]): DataFrame =
    spark.read.format("graft.sources.HttpJsonSource")
      .option("payload", payload)
      .option("urls", urls.mkString("|"))
      .option("urlDelimiter", "|") // query strings contain ',' legally
      .option("headers", headerSpec(c))
      .option("mode", "PERMISSIVE") // don't-kill-the-sweep, main.py:13-17
      .load()

  /** Builds the complete [[Snapshot.Inputs]] from live endpoints for a
    * (user, pool) task list — the whole extract plane of main.py as
    * connector scans. Mirrors the reference's two-phase shape: the RPC
    * tasks need each pool's activeBinId, which the reference reads out
    * of the pool-stats frame it just fetched (main.py:212).
    */
  def inputs(spark: SparkSession, c: Config,
             tasks: Seq[(String, String)]): Snapshot.Inputs = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val pools = tasks.map(_._2).distinct
    // the 1d pool stats are fetched ONCE, by the one collect here, and
    // held as a driver-local relation: the activeBinId lookup below and
    // the snapshot's pool dimension both read these rows without a Spark
    // job, so neither re-issues the HTTP GETs (double quota against a
    // live API) nor can see an activeBinId from a later API tick than
    // the snapshot's pool frame. One row per pool: dimension-sized,
    // never corpus-sized.
    val pool1dRows = httpRead(spark, c, "poolStats",
      pools.map(p => poolStatsUrl(c, p, "1d"))).collect()
    val pool1d = spark.createDataFrame(java.util.Arrays.asList(pool1dRows: _*),
      FixtureJsonSource.payloadSchema("poolStats"))
    val pool1h = httpRead(spark, c, "poolStats",
      pools.map(p => poolStatsUrl(c, p, "1h")))
    val history = httpRead(spark, c, "userHistory",
      tasks.map { case (u, p) => userHistoryUrl(c, u, p) })
    val fees = httpRead(spark, c, "feesEarned",
      tasks.map { case (u, p) => feesEarnedUrl(c, u, p) })
    val activeBin = pool1d
      .select(col("pairAddress"), col("activeBinId").cast("long"))
      .na.drop().as[(String, Long)].collect().toMap
    val rpcTasks = tasks.collect {
      case (u, p) if activeBin.contains(p) =>
        s"$p,$u,${activeBin(p)},${c.idsPlus},${c.idsMinus}"
    }
    val bins =
      if (rpcTasks.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          Schemas.binReserves)
      else spark.read.format("graft.sources.RpcBinsSource")
        .option("endpoint", c.rpcEndpoint)
        .option("contract", c.contract)
        .option("tasks", rpcTasks.mkString(";"))
        .option("batchSize", c.batchSize.toString)
        .option("mode", "PERMISSIVE")
        .load()
    Snapshot.Inputs(
      tasks = tasks.toDF("user_address", "pool_address"),
      pool1d = pool1d, pool1h = pool1h,
      history = history, fees = fees, bins = bins)
  }
}
