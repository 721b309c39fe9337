package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.Num._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Behavioral-analytics & sequential-state plane (q145–q149, round 9
  * fourth batch): the clickstream operators a reference user runs over
  * its event history downstream of the snapshot plane — saturating
  * per-key state folds, marketing attribution, journey mining, a
  * distribution-shape DQ test, and session transition matrices.
  *
  * The headline engine point is q145: a CLAMPED running sum is not
  * associative (`clamp(clamp(a+b)+c) != clamp(a+b+c)`), so no window
  * frame or two-pass sharded prefix ([[graft.ext.ShardedPrefix]])
  * expresses it — it is the one shape that genuinely earns the
  * SURVEY §7.3 tier-(d) sorted `mapPartitions` pass ([[graft.ext.ScanFold]]).
  * Everything else in the batch stays declarative: one user-keyed
  * exchange feeding windows/aggregates, broadcast-joined tiny
  * normalizers, and the q45 custom TopK physical operator for the
  * global path ranking (map-side k-bounded heaps — never a
  * single-partition global window over an unbounded count table).
  *
  * Determinism contract (SURVEY.md §5): cross-row sums in exact
  * DECIMAL (dsum / the q138 12-dp pre-round recipe for double terms),
  * per-row double arithmetic IEEE-deterministic, money scaled to
  * integer micros via floor (floor is exact on identical doubles —
  * no cross-engine rounding-mode hazard), ratios rounded 6 dp before
  * output, every window order total via event_id tiebreaks.
  */
object BehaviorOps {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** q19-family sessionizer at the 12 h tier (q117's gap — long enough
    * on this fixture for multi-event sessions; the 30 min tier is
    * q19's): lag-detected gap starts -> conditional cumsum session ids.
    * ONE user-keyed exchange shared by both windows. */
  private def sessionized(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("chg",
        when(col("prev_ts").isNull ||
             unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 43200000000L,
             1L).otherwise(0L))
      .withColumn("sess",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  private val sessionizerSql =
    """g AS (SELECT user_id, ts, event_id, event_type, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), m AS (SELECT *, CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 43200000000 THEN 1 ELSE 0 END AS chg FROM g), r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM m)"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q145_clamped_balance",
      "saturating per-user credit balance (ext.ScanFold.clampedRunningSum): earn events (signup/click/view) add value, spend events (purchase/error) subtract it, and the balance CLAMPS to [0, 100] credits after every event — the inventory-floor / wallet-cap / token-bucket semantics. This fold is NOT associative (clamp(clamp(a+b)+c) != clamp(a+b+c)), so it is inexpressible as any window aggregate — SUM OVER computes the unclamped prefix, which is a different function the moment one bound binds (and on this fixture the floor binds constantly: spends arrive before earns for most users) — and it has no ShardedPrefix two-pass decomposition either (saturation erases state data-dependently; no per-shard summary reconstructs it). The engine shape is the one that genuinely earns SURVEY §7.3 tier (d): ONE hash exchange on user_id, a within-partition sort on (user, ts, event_id), a single O(1)-state forward pass — at 100 TB each user's history streams through one task in sorted order, spilling via Spark's own sort machinery. Money is scaled to integer micros via floor (exact on identical doubles — no cross-engine rounding-mode hazard) so the fold is pure Long arithmetic; the oracle recomputes it as a recursive CTE over row_number ranks (one frontier join per rank — the SQL-native sequential fold)",
      (s, d) => {
        val ev = t(s, d, "events").select(
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          (floor(col("value") * lit(1e6)).cast("long") *
            when(col("event_type").isin("signup", "click", "view"), 1L)
              .otherwise(-1L)).as("delta"))
        graft.ext.ScanFold
          .clampedRunningSum(ev, "user_id", "ts_us", "event_id", "delta",
            lo = 0L, hi = 100000000L)
          .select(col("user_id"), col("event_id"),
                  col("bal").as("balance_micros"))
      },
      Some("""WITH RECURSIVE d AS (SELECT user_id, event_id, CAST(floor(value * 1e6) AS BIGINT) * (CASE WHEN event_type IN ('signup','click','view') THEN 1 ELSE -1 END) AS delta, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events), r AS (SELECT user_id, event_id, rn, greatest(0, least(100000000, delta)) AS bal FROM d WHERE rn = 1 UNION ALL SELECT d.user_id, d.event_id, d.rn, greatest(0, least(100000000, r.bal + d.delta)) FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.rn + 1) SELECT user_id, event_id, CAST(bal AS BIGINT) AS balance_micros FROM r""")),

    QueryDef("q146_last_touch_attribution",
      "last-touch marketing attribution with a 7-day lookback: every purchase is credited to the user's most recent STRICTLY-PRECEDING view/click touch (frame UNBOUNDED PRECEDING .. 1 PRECEDING — a purchase never attributes to a same-instant touch sorted after it), falling back to 'direct' when the last touch is absent or older than 7 days; output is per-channel purchase count and exact-decimal revenue. The as-of machinery here is the UNION-window form of ops.AsOfJoin: touches and purchases interleave in ONE user-keyed stream and last_value(touch IGNORE NULLS) carries the most recent touch forward — one exchange, no join, no per-purchase subquery (the correlated form a naive translation would write). The 3-row channel rollup then collapses with full map-side combine. At 100 TB: the window state is O(1) per user (one carried touch), the aggregate is channel-cardinality-bounded",
      (s, d) => {
        val touch = when(col("event_type").isin("view", "click"), col("event_type"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, d, "events")
          .filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), col("ts"), col("event_id"),
                  col("event_type"), col("value"))
          .withColumn("lt_type", last(touch, ignoreNulls = true).over(w))
          .withColumn("lt_ts",
            last(when(touch.isNotNull, col("ts")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .withColumn("channel", coalesce(
            when(col("lt_ts").isNotNull &&
                 unix_micros(col("ts")) - unix_micros(col("lt_ts")) <= 604800000000L,
                 col("lt_type")),
            lit("direct")))
          .groupBy(col("channel"))
          .agg(lcount(lit(1)).as("n_purchases"),
               dsum(round(col("value"), 6)).as("total_value"))
      },
      Some("""WITH u AS (SELECT user_id, ts, event_id, event_type, value, CASE WHEN event_type IN ('view','click') THEN event_type END AS touch_type, CASE WHEN event_type IN ('view','click') THEN ts END AS touch_ts FROM events WHERE event_type IN ('view','click','purchase')), w AS (SELECT user_id, ts, event_id, event_type, value, last_value(touch_type IGNORE NULLS) OVER win AS lt_type, last_value(touch_ts IGNORE NULLS) OVER win AS lt_ts FROM u WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) SELECT COALESCE(CASE WHEN lt_ts IS NOT NULL AND epoch_us(ts) - epoch_us(lt_ts) <= 604800000000 THEN lt_type END, 'direct') AS channel, CAST(count(*) AS BIGINT) AS n_purchases, CAST(SUM(CAST(round(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS total_value FROM w WHERE event_type = 'purchase' GROUP BY 1""")),

    QueryDef("q147_session_paths",
      "journey mining: the top-20 session event-type paths ('view>click>purchase') by session count, with distinct-user reach — the funnel-discovery complement of q87's FIXED funnel (q87 checks one hypothesized sequence; this surfaces which sequences actually happen). Sessions from the shared 12 h sessionizer (one user-keyed exchange), each session's path built IN-ROW by the q09 ordered-fold recipe (array_sort(collect_list(struct)) + transform + array_join — distributed collect_list order is nondeterministic, the struct sort restores the total (ts, event_id) order). The global ranking deliberately does NOT use a global window — row_number over an unpartitioned window funnels the whole path-count table (unbounded: distinct paths grow with the corpus) through ONE task after a full sort; instead the q45 TopKPerKey physical operator keeps map-side 20-bounded heaps so the final exchange moves <= 20 rows per partition, and only the returned 20 rows pay a rank window",
      (s, d) => {
        val paths = sessionized(s, d)
          .groupBy(col("user_id"), col("sess"))
          .agg(array_join(
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"),
                                             col("event_type")))),
              x => x.getField("event_type")),
            ">").as("path"))
        val counts = paths.groupBy(col("path"))
          .agg(lcount(lit(1)).as("n_sessions"),
               countDistinct(col("user_id")).cast("long").as("n_users"))
        val top = graft.plans.TopK.perKey(counts, Seq(lit(1)),
          Seq(col("n_sessions").desc, col("path").asc), 20)
        top.withColumn("rk",
          row_number().over(Window.orderBy(col("n_sessions").desc,
                                           col("path").asc)).cast("long"))
      },
      Some(s"""WITH $sessionizerSql, p AS (SELECT user_id, sess, string_agg(event_type, '>' ORDER BY ts, event_id) AS path FROM r GROUP BY 1, 2), c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM p GROUP BY 1), k AS (SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path) AS rk FROM c) SELECT path, n_sessions, n_users, CAST(rk AS BIGINT) AS rk FROM k WHERE rk <= 20""")),

    QueryDef("q148_benford_dq",
      "Benford first-digit distribution test on o_totalprice — the fraud/synthetic-data screen that belongs beside q132's row constraints: real-world monetary amounts follow P(d) = log10(1 + 1/d), and a chi-square-style divergence from that law flags fabricated or truncated feeds. Per digit: observed count, observed vs expected frequency (6 dp), plus the total divergence statistic broadcast onto every row (q115's psi_total pattern). The test genuinely FIRES here — the synthetic uniform-ish totals are nothing like Benford (digits 1-4 dominate because totals cap at 500k), exactly what a DQ screen must surface. First digit extracted via DECIMAL(18,2)->string (both engines format decimals identically; no log10-of-value floor whose ulp could differ cross-engine); the 9-term chi-square sum uses the q138 recipe (terms pre-rounded 12 dp -> exact DECIMAL(38,12) sum) so even the tiny reduction is order-independent. Shape: one map+count aggregate, two 1-to-9-row broadcasts — fully scan-bound at 100 TB",
      (s, d) => {
        val c = t(s, d, "orders")
          .filter(col("o_totalprice") >= 1)
          .select(substring(col("o_totalprice").cast(DecimalType(18, 2))
            .cast("string"), 1, 1).as("digit"))
          .groupBy(col("digit")).agg(lcount(lit(1)).as("n"))
        val tot = c.agg(lsum(col("n")).as("tot"))
        val e = c.crossJoin(broadcast(tot))
          .withColumn("obs_freq", round(col("n").cast("double") / col("tot"), 6))
          .withColumn("exp_freq",
            round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6))
        val term = round((col("obs_freq") - col("exp_freq")) *
          (col("obs_freq") - col("exp_freq")) / col("exp_freq"), 12)
        val chi = e.agg(round(sum(term.cast(DecimalType(38, 12))).cast("double"), 6)
          .as("chi2"))
        e.select(col("digit"), col("n"), col("obs_freq"), col("exp_freq"))
          .crossJoin(broadcast(chi))
      },
      Some("""WITH b AS (SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS digit FROM orders WHERE o_totalprice >= 1), c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1), t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c), e AS (SELECT digit, n, round(n / tot, 6) AS obs_freq, round(log10(1 + 1.0 / CAST(digit AS DOUBLE)), 6) AS exp_freq FROM c, t), x AS (SELECT round(CAST(SUM(CAST(round((obs_freq - exp_freq) * (obs_freq - exp_freq) / exp_freq, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS chi2 FROM e) SELECT digit, n, obs_freq, exp_freq, chi2 FROM e, x""")),

    QueryDef("q149_markov_transitions",
      "first-order Markov transition matrix over session event streams: P(next event type | current), estimated within the shared 12 h sessions so cross-session gaps never fabricate transitions — the clickstream what-happens-next model (next-step prediction, anomaly scoring of improbable jumps, simulation input) and the event-plane analogue of q84's text-bigram fluency. lead() inside the (user, session) window pairs each event with its successor — the SAME user-keyed exchange the sessionizer built, no second shuffle for the pairing — then the pair counts collapse to a <=|types|^2 table with full map-side combine, and the per-source normalizer joins back as a broadcast (never a window over the corpus). Probabilities rounded 6 dp after a long/long->double division both engines perform identically",
      (s, d) => {
        val wl = Window.partitionBy(col("user_id"), col("sess"))
          .orderBy(col("ts"), col("event_id"))
        val pairs = sessionized(s, d)
          .withColumn("nxt", lead(col("event_type"), 1).over(wl))
          .filter(col("nxt").isNotNull)
          .select(col("event_type").as("cur"), col("nxt"))
        val c = pairs.groupBy(col("cur"), col("nxt")).agg(lcount(lit(1)).as("n"))
        val totals = c.groupBy(col("cur")).agg(lsum(col("n")).as("tot"))
        c.join(broadcast(totals), Seq("cur"))
          .select(col("cur"), col("nxt"), col("n"),
                  round(col("n").cast("double") / col("tot"), 6).as("p"))
      },
      Some(s"""WITH $sessionizerSql, pr AS (SELECT event_type AS cur, lead(event_type) OVER (PARTITION BY user_id, sess ORDER BY ts, event_id) AS nxt FROM r), c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n FROM pr WHERE nxt IS NOT NULL GROUP BY 1, 2), t AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1) SELECT c.cur, c.nxt, n, round(n / tot, 6) AS p FROM c JOIN t USING (cur)""")),

    QueryDef("q150_ewma_smoothing",
      "per-user EWMA of event value (ext.ScanFold.ewma, alpha=0.125): the pandas ewm(adjust=False) smoother behind monitoring baselines and trading signals, seeded with each user's first value. A linear recurrence has an associative pair-composition ((a1,b1)o(a2,b2) = (a1*a2, a2*b1+b2)) so a two-pass sharded scan exists mathematically, but float composition REASSOCIATES the products and breaks bit-stable results across partitionings — the sequential fold is the hash-stable form, and because both engines evaluate alpha*x + (1-alpha)*s left-to-right on identical doubles, a recursive-CTE oracle matches it bit-for-bit before the 6 dp output round. alpha=0.125 is an exact binary fraction so 1-alpha=0.875 is exact in both engines' literals. Same one-exchange sorted O(1)-state shape as q145",
      (s, d) => {
        val ev = t(s, d, "events").select(
          col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"))
        graft.ext.ScanFold.ewma(ev, "user_id", "ts_us", "event_id",
            "value", alpha = 0.125)
          // floor-grid round (EmbeddingStats' r12 recipe at 6 dp):
          // round(x, 6) diverges on half boundaries — Spark rounds the
          // SHORTEST decimal repr, DuckDB the exact binary — and the /8
          // fold makes exact 7-dp decimals constantly. floor(x*1e6+0.5)
          // is pure float ops, identical on identical doubles.
          .select(col("user_id"), col("event_id"),
                  (floor(col("ewma") * 1e6 + 0.5) / 1e6).as("ewma"))
      },
      Some("""WITH RECURSIVE d AS (SELECT user_id, event_id, value, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events), r AS (SELECT user_id, event_id, rn, value AS s FROM d WHERE rn = 1 UNION ALL SELECT d.user_id, d.event_id, d.rn, 0.125 * d.value + 0.875 * r.s FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.rn + 1) SELECT user_id, event_id, floor(s * 1e6 + 0.5) / 1e6 AS ewma FROM r""")),

    QueryDef("q151_groupwise_ols",
      "group-wise ordinary-least-squares trend: per event_type, regress value on time (days since a fixed day-19700 origin — centering keeps every moment sum under 2^53*1e-6, where BOTH engines' DECIMAL(38,6)->double conversion is a single correctly-rounded step; at raw epoch-day magnitude the sxx sum reaches 7.8e11 = 18 sig digits and the conversions differ by one ulp, measured as a 2e-6 intercept drift. slope/r2 are centering-invariant; the intercept is the fitted value AT the origin) — slope, intercept, r^2 from the five closed-form moment sums (n, sx, sy, sxy, sxx, syy) in ONE aggregate pass with full map-side combine; no iterative solver, no per-group collect. Every cross-row sum uses the q138 recipe (terms pre-rounded 12 dp -> exact DECIMAL(38,12) -> double), so the moment values are identical across engines and every downstream double expression — written with the SAME tree shape in Spark and the oracle — evaluates bit-identically before the 6 dp round. The int64-microsecond epoch fits double exactly (~2^51), so the days conversion is deterministic. At 100 TB this is the scan-bound shape: 5 multiplies per row inside codegen, a |event_type|-row result",
      (s, d) => {
        // q138 recipe, grid widened to 6 dp: the pre-round grid must sit
        // WELL ABOVE the terms' float ulp or the two engines' double->
        // decimal cast conventions (shortest-repr vs exact-binary) still
        // disagree — x*x reaches ~4e8 where ulp ~ 6e-8, so a 12-dp grid
        // is below ulp (measured ±3e-6 drift on the intercept) while the
        // 1e-6 quantum is 20x above it. Quantization at 1e-6 of 1e8-
        // magnitude terms is relative 1e-14 — inside double noise.
        val base = t(s, d, "events").select(col("event_type"),
          (unix_micros(col("ts")).cast("double") / lit(86400000000.0) - lit(19700.0)).as("x"),
          col("value").as("y"))
        val sums = base.groupBy(col("event_type")).agg(
          lcount(lit(1)).as("n"),
          sum6(col("x")).cast("double").as("sx"),
          sum6(col("y")).cast("double").as("sy"),
          sum6(col("x") * col("y")).cast("double").as("sxy"),
          sum6(col("x") * col("x")).cast("double").as("sxx"),
          sum6(col("y") * col("y")).cast("double").as("syy"))
        val nd = col("n").cast("double")
        val covn = nd * col("sxy") - col("sx") * col("sy")
        val varxn = nd * col("sxx") - col("sx") * col("sx")
        val varyn = nd * col("syy") - col("sy") * col("sy")
        // floor-grid round at 6 dp (not round(): half-boundary hazard)
        def g6(c: Column) = floor(c * 1e6 + 0.5) / 1e6
        sums.select(col("event_type"), col("n"),
          g6(covn / varxn).as("slope"),
          g6((col("sy") - (covn / varxn) * col("sx")) / nd).as("intercept"),
          g6(covn * covn / (varxn * varyn)).as("r2"))
      },
      Some("""WITH b AS (SELECT event_type, epoch_us(ts) / 86400000000.0 - 19700.0 AS x, value AS y FROM events), s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(SUM(CAST(floor(x * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS sx, CAST(SUM(CAST(floor(y * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS sy, CAST(SUM(CAST(floor(x * y * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS sxy, CAST(SUM(CAST(floor(x * x * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS sxx, CAST(SUM(CAST(floor(y * y * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS syy FROM b GROUP BY 1) SELECT event_type, n, floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6 AS slope, floor((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n * 1e6 + 0.5) / 1e6 AS intercept, floor((n * sxy - sx * sy) * (n * sxy - sx * sy) / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e6 + 0.5) / 1e6 AS r2 FROM s""")),

    QueryDef("q152_cusum_drift",
      "CUSUM changepoint detection over hourly series (Page's one-sided cumulative-sum chart): per event_type, the hourly value sums feed S := max(0, S + (x - mu - 0.5*sd)) and an hour is flagged once S exceeds 4*sd — the standard upward-drift monitor (the 0.5*sd slack makes a stationary series decay to 0 instead of random-walking; measured: no slack flags 82% of hours, slacked 3.5%). The reflected fold is EXACTLY the clamped running sum — max(0, .) IS a saturating floor — so the engine is ScanFold.clampedRunningSumS (string series keys, same one-exchange sorted O(1)-state shape) over integer-micro deltas; mu/sd come from one decimal-exact moment pass broadcast back (sqrt is IEEE-correctly-rounded, so sd is cross-engine deterministic). Series per key = hours, shuffled rows = |types| x hours — bounded; the raw corpus only pays the hourly rollup",
      (s, d) => {
        val h = t(s, d, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(dsum(col("value")).as("h_sum"))
          .select(col("event_type"), unix_micros(col("hour")).as("hour_us"),
                  col("h_sum"))
        val mu = dsum(col("h_sum")) / count(lit(1))
        // variance clamped at 0 IDENTICALLY in both engines: on a
        // degenerate constant series the 6-dp pre-round can push the
        // grid-rounded E[x^2] a hair below mu^2, and sqrt(negative)
        // would go NaN — which Spark and DuckDB then CAST differently
        // (silent divergence instead of a loud failure)
        val m = h.groupBy(col("event_type")).agg(
          mu.as("mu"),
          sqrt(greatest(lit(0.0), sum6(col("h_sum") * col("h_sum")).cast("double")
            / count(lit(1)) - mu * mu)).as("sd"))
        val dd = h.join(broadcast(m), Seq("event_type"))
          .select(col("event_type"), col("hour_us"),
            floor((col("h_sum") - col("mu") - lit(0.5) * col("sd")) * 1e6)
              .cast("long").as("delta"))
          .withColumn("z", lit(0L))
        graft.ext.ScanFold
          .clampedRunningSumS(dd, "event_type", "hour_us", "z", "delta",
            lo = 0L, hi = 1152921504606846976L)
          .join(broadcast(m.select(col("event_type"), col("sd"))), Seq("event_type"))
          .select(col("event_type"), col("hour_us"),
            col("bal").as("cusum_micros"),
            (col("bal") > floor(lit(4.0) * col("sd") * lit(1e6)).cast("long"))
              .as("drift"))
      },
      Some("""WITH RECURSIVE h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS h_sum FROM events GROUP BY 1, 2), m AS (SELECT event_type, CAST(SUM(CAST(h_sum AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mu, sqrt(greatest(0.0, CAST(SUM(CAST(floor(h_sum * h_sum * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) / count(*) - (CAST(SUM(CAST(h_sum AS DECIMAL(38,6))) AS DOUBLE) / count(*)) * (CAST(SUM(CAST(h_sum AS DECIMAL(38,6))) AS DOUBLE) / count(*)))) AS sd FROM h GROUP BY 1), d AS (SELECT h.event_type, hour_us, CAST(floor((h_sum - mu - 0.5 * sd) * 1e6) AS BIGINT) AS delta, row_number() OVER (PARTITION BY h.event_type ORDER BY hour_us) AS rn FROM h JOIN m ON h.event_type = m.event_type), r AS (SELECT event_type, hour_us, rn, greatest(0, least(1152921504606846976, delta)) AS cusum FROM d WHERE rn = 1 UNION ALL SELECT d.event_type, d.hour_us, d.rn, greatest(0, least(1152921504606846976, r.cusum + d.delta)) FROM r JOIN d ON d.event_type = r.event_type AND d.rn = r.rn + 1) SELECT r.event_type, r.hour_us, CAST(r.cusum AS BIGINT) AS cusum_micros, r.cusum > CAST(floor(4.0 * m.sd * 1e6) AS BIGINT) AS drift FROM r JOIN m ON r.event_type = m.event_type""")),

    QueryDef("q153_autocorrelation",
      "autocorrelation function at lags 1-3 over the hourly series per event_type — the seasonality/persistence diagnostic run before any forecasting model: r_k = sum(c_t * c_{t-k}) / sum(c_t^2) with c = h_sum - mu. ONE series-keyed window pass produces all three lag columns (lags on the OBSERVED hour sequence; the fixture's hours are dense), products pre-round onto the 6-dp floor-grid into exact DECIMAL(38,6) sums (order-independent), the per-type moment row is |types|-sized, and the 3-lag unpivot explodes in-row. Null lags at each series head drop out of the sums in both engines (null-skipping SUM == FILTER). All downstream ratios share identical expression trees -> bit-equal before the 6-dp output grid",
      (s, d) => {
        val h = t(s, d, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(dsum(col("value")).as("h_sum"))
          .select(col("event_type"), unix_micros(col("hour")).as("hour_us"),
                  col("h_sum"))
        val m = h.groupBy(col("event_type"))
          .agg((dsum(col("h_sum")) / count(lit(1))).as("mu"))
        val c = h.join(broadcast(m), Seq("event_type"))
          .select(col("event_type"), col("hour_us"),
                  (col("h_sum") - col("mu")).as("c"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
        val l = c.select(col("event_type"), col("c"),
          lag(col("c"), 1).over(w).as("c1"),
          lag(col("c"), 2).over(w).as("c2"),
          lag(col("c"), 3).over(w).as("c3"))
        val sums = l.groupBy(col("event_type")).agg(
          sum6(col("c") * col("c")).cast("double").as("s0"),
          sum6(col("c") * col("c1")).cast("double").as("s1"),
          sum6(col("c") * col("c2")).cast("double").as("s2"),
          sum6(col("c") * col("c3")).cast("double").as("s3"))
        sums.select(col("event_type"), explode(array(
            struct(lit(1L).as("lag_k"), (col("s1") / col("s0")).as("r")),
            struct(lit(2L).as("lag_k"), (col("s2") / col("s0")).as("r")),
            struct(lit(3L).as("lag_k"), (col("s3") / col("s0")).as("r")))).as("e"))
          .select(col("event_type"), col("e.lag_k").as("lag_k"),
                  (floor(col("e.r") * lit(1e6) + lit(0.5)) / lit(1e6)).as("acf"))
      },
      Some("""WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS h_sum FROM events GROUP BY 1, 2), m AS (SELECT event_type, CAST(SUM(CAST(h_sum AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mu FROM h GROUP BY 1), c AS (SELECT h.event_type, hour_us, h_sum - mu AS c FROM h JOIN m ON h.event_type = m.event_type), l AS (SELECT event_type, c, lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2, lag(c, 3) OVER w AS c3 FROM c WINDOW w AS (PARTITION BY event_type ORDER BY hour_us)), s AS (SELECT event_type, CAST(SUM(CAST(floor(c * c * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS s0, CAST(SUM(CAST(floor(c * c1 * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS s1, CAST(SUM(CAST(floor(c * c2 * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS s2, CAST(SUM(CAST(floor(c * c3 * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS s3 FROM l GROUP BY 1) SELECT event_type, CAST(lag_k AS BIGINT) AS lag_k, floor(sk / s0 * 1e6 + 0.5) / 1e6 AS acf FROM (SELECT event_type, 1 AS lag_k, s1 AS sk, s0 FROM s UNION ALL SELECT event_type, 2, s2, s0 FROM s UNION ALL SELECT event_type, 3, s3, s0 FROM s)""")),

    QueryDef("q154_holt_trend",
      "Holt linear-trend smoothing per user (ext.ScanFold.holt, alpha=0.25, beta=0.125): the two-state member of the fold family — level tracks the series, trend tracks its slope, level+trend is the one-step-ahead forecast; q150's EWMA is the beta=0 special case. Seeded (l = first value, b = 0). The oracle's recursive CTE repeats the level-update expression inside the trend update (SQL cannot bind l' mid-row) — deterministically the same value, so stream-order bit-equality still holds before the 6-dp output grid. Both smoothing constants exact binary fractions; same one-exchange sorted O(1)x2-state shape as q145/q150",
      (s, d) => {
        val ev = t(s, d, "events").select(
          col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"))
        graft.ext.ScanFold.holt(ev, "user_id", "ts_us", "event_id", "value",
            alpha = 0.25, beta = 0.125)
          .select(col("user_id"), col("event_id"),
            (floor(col("level") * lit(1e6) + lit(0.5)) / lit(1e6)).as("level"),
            (floor(col("trend") * lit(1e6) + lit(0.5)) / lit(1e6)).as("trend"),
            (floor((col("level") + col("trend")) * lit(1e6) + lit(0.5)) / lit(1e6))
              .as("forecast"))
      },
      Some("""WITH RECURSIVE d AS (SELECT user_id, event_id, value, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events), r AS (SELECT user_id, event_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b FROM d WHERE rn = 1 UNION ALL SELECT d.user_id, d.event_id, d.rn, 0.25 * d.value + 0.75 * (r.l + r.b), 0.125 * ((0.25 * d.value + 0.75 * (r.l + r.b)) - r.l) + 0.875 * r.b FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.rn + 1) SELECT user_id, event_id, floor(l * 1e6 + 0.5) / 1e6 AS level, floor(b * 1e6 + 0.5) / 1e6 AS trend, floor((l + b) * 1e6 + 0.5) / 1e6 AS forecast FROM r""")),

    QueryDef("q204_pacf",
      "partial autocorrelation at lags 1-3 per event_type via the Durbin-Levinson recursion - the MODEL-ORDER diagnostic completing q153's ACF (ACF says how much memory the series has; PACF says which AR order explains it: an AR(p) series has PACF cutting off sharply after lag p, which raw ACF cannot show because it compounds indirect correlation through intermediate lags). phi_11 = r1, phi_22 = (r2 - r1^2)/(1 - r1^2), phi_33 via the recursed coefficients phi_21 = phi_11 - phi_22*phi_11. The corpus pipeline IS q153's (one hourly rollup, broadcast means, one grid window pass, 6-dp floor-grid moment sums); the DL recursion then runs on the |types|-row ACF frame using the ROUNDED 6-dp r_k as inputs - engine-identical integers-on-a-grid in, so the recursion's pinned chain of correctly-rounded IEEE ops (no reassociation between engines) is bit-equal out. Scale: DL is O(p^2) per series on a p-row grid - the corpus never feels the recursion at any lag order. Honest readout: the hourly series is iid noise, so all PACF values sit at the O(1/sqrt(n)) noise floor (|phi| < 0.09) and no AR order is suggested",
      (s, d) => {
        val h = t(s, d, "events")
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(dsum(col("value")).as("h_sum"))
          .select(col("event_type"), unix_micros(col("hour")).as("hour_us"),
                  col("h_sum"))
        val m = h.groupBy(col("event_type"))
          .agg((dsum(col("h_sum")) / count(lit(1))).as("mu"))
        val c = h.join(broadcast(m), Seq("event_type"))
          .select(col("event_type"), col("hour_us"),
                  (col("h_sum") - col("mu")).as("c"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hour_us"))
        val l = c.select(col("event_type"), col("c"),
          lag(col("c"), 1).over(w).as("c1"),
          lag(col("c"), 2).over(w).as("c2"),
          lag(col("c"), 3).over(w).as("c3"))
        val sums = l.groupBy(col("event_type")).agg(
          sum6(col("c") * col("c")).cast("double").as("s0"),
          sum6(col("c") * col("c1")).cast("double").as("s1"),
          sum6(col("c") * col("c2")).cast("double").as("s2"),
          sum6(col("c") * col("c3")).cast("double").as("s3"))
        // Durbin-Levinson on the |types|-row frame, off the ROUNDED acf
        val r1 = floor(col("s1") / col("s0") * lit(1e6) + lit(0.5)) / lit(1e6)
        val r2 = floor(col("s2") / col("s0") * lit(1e6) + lit(0.5)) / lit(1e6)
        val r3 = floor(col("s3") / col("s0") * lit(1e6) + lit(0.5)) / lit(1e6)
        val p22 = (r2 - r1 * r1) / (lit(1.0) - r1 * r1)
        val p21 = r1 - p22 * r1
        val p33 = (r3 - p21 * r2 - p22 * r1) /
          (lit(1.0) - p21 * r1 - p22 * r2)
        sums.select(col("event_type"),
          r1.as("pacf1"),
          (floor(p22 * lit(1e6) + lit(0.5)) / lit(1e6)).as("pacf2"),
          (floor(p33 * lit(1e6) + lit(0.5)) / lit(1e6)).as("pacf3"))
      },
      Some("""WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS h_sum FROM events GROUP BY 1, 2), m AS (SELECT event_type, CAST(SUM(CAST(h_sum AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mu FROM h GROUP BY 1), c AS (SELECT h.event_type, hour_us, h_sum - mu AS c FROM h JOIN m ON h.event_type = m.event_type), l AS (SELECT event_type, c, lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2, lag(c, 3) OVER w AS c3 FROM c WINDOW w AS (PARTITION BY event_type ORDER BY hour_us)), s AS (SELECT event_type, CAST(SUM(CAST(floor(c * c * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS s0, CAST(SUM(CAST(floor(c * c1 * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS s1, CAST(SUM(CAST(floor(c * c2 * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS s2, CAST(SUM(CAST(floor(c * c3 * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS s3 FROM l GROUP BY 1), a AS (SELECT event_type, floor(s1 / s0 * 1e6 + 0.5) / 1e6 AS r1, floor(s2 / s0 * 1e6 + 0.5) / 1e6 AS r2, floor(s3 / s0 * 1e6 + 0.5) / 1e6 AS r3 FROM s), p2 AS (SELECT *, (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22 FROM a), p3 AS (SELECT *, r1 - p22 * r1 AS p21 FROM p2) SELECT event_type, r1 AS pacf1, floor(p22 * 1e6 + 0.5) / 1e6 AS pacf2, floor((r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2) * 1e6 + 0.5) / 1e6 AS pacf3 FROM p3""")),

    QueryDef("q164_forecast_backtest",
      "walk-forward backtest of the q154 Holt smoother (the q96/q100/q122 measure-your-own-operator pattern applied to forecasting): every event's value is predicted by the PREVIOUS event's one-step-ahead forecast (level+trend, lagged — strictly out-of-sample by construction) and by the naive last-value baseline; MAE for both, the skill ratio, and the verdict. Holt WINS on this fixture (skill 0.826 — 17% MAE reduction: the smoother damps the value noise the naive forecast inherits wholesale), n=9850 forecasts (10k events minus each user's unseedable first). Absolute errors pre-round onto the 6-dp grid into exact decimal sums; the fold outputs join back to actuals on the same user keying and ONE user-ordered lag window does the alignment",
      (s, d) => {
        val ev = t(s, d, "events").select(
          col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"))
        val h = graft.ext.ScanFold.holt(ev, "user_id", "ts_us", "event_id",
            "value", alpha = 0.25, beta = 0.125)
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val j = ev.join(h, Seq("user_id", "ts_us", "event_id"))
          .withColumn("forecast", lag(col("level") + col("trend"), 1).over(w))
          .withColumn("naive", lag(col("value"), 1).over(w))
          .filter(col("forecast").isNotNull)
        j.agg(lcount(lit(1)).as("n_forecasts"),
              sum6(abs(col("value") - col("forecast"))).cast("double").as("ae_holt"),
              sum6(abs(col("value") - col("naive"))).cast("double").as("ae_naive"))
          .select(col("n_forecasts"),
            (floor(col("ae_holt") / col("n_forecasts") * lit(1e6) + lit(0.5)) / lit(1e6)).as("mae_holt"),
            (floor(col("ae_naive") / col("n_forecasts") * lit(1e6) + lit(0.5)) / lit(1e6)).as("mae_naive"),
            (floor(col("ae_holt") / col("ae_naive") * lit(1e6) + lit(0.5)) / lit(1e6)).as("skill"),
            (col("ae_holt") < col("ae_naive")).as("holt_wins"))
      },
      Some("""WITH RECURSIVE d AS (SELECT user_id, event_id, value, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events), r AS (SELECT user_id, event_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b FROM d WHERE rn = 1 UNION ALL SELECT d.user_id, d.event_id, d.rn, 0.25 * d.value + 0.75 * (r.l + r.b), 0.125 * ((0.25 * d.value + 0.75 * (r.l + r.b)) - r.l) + 0.875 * r.b FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.rn + 1), f AS (SELECT user_id, rn, l + b AS forecast FROM r), j AS (SELECT d.user_id, d.value, f.forecast, lv.value AS naive FROM d JOIN f ON f.user_id = d.user_id AND f.rn = d.rn - 1 JOIN d lv ON lv.user_id = d.user_id AND lv.rn = d.rn - 1), s AS (SELECT CAST(count(*) AS BIGINT) AS n_forecasts, CAST(SUM(CAST(floor(abs(value - forecast) * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS ae_holt, CAST(SUM(CAST(floor(abs(value - naive) * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS ae_naive FROM j) SELECT n_forecasts, floor(ae_holt / n_forecasts * 1e6 + 0.5) / 1e6 AS mae_holt, floor(ae_naive / n_forecasts * 1e6 + 0.5) / 1e6 AS mae_naive, floor(ae_holt / ae_naive * 1e6 + 0.5) / 1e6 AS skill, ae_holt < ae_naive AS holt_wins FROM s""")),

    QueryDef("q165_ab_test",
      "two-proportion z-test — the A/B experiment readout completing the statistical-tests plane (q161 continuous, q162 categorical, here proportions): unit = session (shared 12 h sessionizer), arm = user-id parity (the deterministic stand-in for an assignment column), conversion = session contains a purchase; per-arm n/conversions/rates, the pooled-variance z statistic, and the |z| > 1.96 verdict. INTEGER counts until the final rate/z arithmetic (identical expression trees both engines; sqrt correctly rounded). Arm assignment here is synthetic parity, so any 'significant' verdict is sampling fluctuation the test is honestly reporting — what matters is the machinery: per-session max-flag rollup (one user-keyed exchange shared with the sessionizer), four FILTER counts in ONE summary aggregate, no joins at all",
      (s, d) => {
        val u = sessionized(s, d)
          .groupBy(col("user_id"), col("sess"))
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("hit"))
          .select((col("user_id") % 2 === 0).as("arm_a"), col("hit"))
        val st = u.agg(
          count(when(col("arm_a"), 1)).cast("long").as("n_a"),
          count(when(!col("arm_a"), 1)).cast("long").as("n_b"),
          sum(when(col("arm_a"), col("hit"))).cast("long").as("c_a"),
          sum(when(!col("arm_a"), col("hit"))).cast("long").as("c_b"))
        val pA = col("c_a").cast("double") / col("n_a")
        val pB = col("c_b").cast("double") / col("n_b")
        val pp = (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b"))
        val z = (pA - pB) / sqrt(pp * (lit(1.0) - pp)
          * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
        st.select(col("n_a"), col("c_a"),
          (floor(pA * lit(1e6) + lit(0.5)) / lit(1e6)).as("rate_a"),
          col("n_b"), col("c_b"),
          (floor(pB * lit(1e6) + lit(0.5)) / lit(1e6)).as("rate_b"),
          (floor(z * lit(1e6) + lit(0.5)) / lit(1e6)).as("z_stat"),
          (abs(z) > lit(1.96)).as("significant"))
      },
      Some(s"""WITH $sessionizerSql, u AS (SELECT (user_id % 2 = 0) AS arm_a, CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS hit FROM r GROUP BY user_id, sess), s AS (SELECT CAST(count(*) FILTER (WHERE arm_a) AS BIGINT) AS n_a, CAST(count(*) FILTER (WHERE NOT arm_a) AS BIGINT) AS n_b, CAST(SUM(hit) FILTER (WHERE arm_a) AS BIGINT) AS c_a, CAST(SUM(hit) FILTER (WHERE NOT arm_a) AS BIGINT) AS c_b FROM u), z AS (SELECT n_a, n_b, c_a, c_b, CAST(c_a AS DOUBLE) / n_a AS p_a, CAST(c_b AS DOUBLE) / n_b AS p_b, CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pp FROM s) SELECT n_a, c_a, floor(p_a * 1e6 + 0.5) / 1e6 AS rate_a, n_b, c_b, floor(p_b * 1e6 + 0.5) / 1e6 AS rate_b, floor((p_a - p_b) / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)) * 1e6 + 0.5) / 1e6 AS z_stat, abs((p_a - p_b) / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b))) > 1.96 AS significant FROM z""")),

    QueryDef("q155_linear_attribution",
      "multi-touch LINEAR attribution — the fractional-credit complement of q146's last-touch: every view/click touch in the 7-day window strictly preceding a purchase (same (ts, event_id) total-order convention as q146) receives an equal share value/n_touches, per-channel credits and touchpoint counts roll up, and untouched purchases land in 'direct' at full value (q146's direct revenue, 3610.44 at sf0.01, reappears here EXACTLY — the two models must agree on the unattributable set). The pair stage is a user_id EQUI-join with the time predicates as residuals (hash join, never cartesian — the q117 per-key-bounded quadratic: touches per user per week, ~dozens); per-purchase touch counts are one pid-keyed aggregate joined back; fractional credits pre-round onto the 6-dp floor-grid into exact decimal sums. At 100 TB every stage keys on user_id or pid — no global structure",
      (s, d) => {
        val ev = t(s, d, "events")
        val t0 = ev.filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("ts"), col("event_id"),
                  col("event_type"))
        val p0 = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("pts"),
                  col("event_id").as("pid"), col("value"))
        val pr = p0.join(t0,
            col("p_user") === t0("user_id") &&
            (t0("ts") < col("pts") ||
             (t0("ts") === col("pts") && t0("event_id") < col("pid"))) &&
            (unix_micros(col("pts")) - unix_micros(t0("ts")) <= 604800000000L))
          .select(col("pid"), col("value"), col("event_type").as("channel"))
        val n = pr.groupBy(col("pid")).agg(lcount(lit(1)).as("nt"))
        val agg = pr.join(n, Seq("pid"))
          .select(col("channel"), (col("value") / col("nt")).as("credit"))
          .groupBy(col("channel"))
          .agg(sum6(col("credit")).cast("double").as("credit"),
               lcount(lit(1)).as("n_touchpoints"))
        val direct = p0.join(n, p0("pid") === n("pid"), "left_anti")
          .agg(dsum(round(col("value"), 6)).as("credit"),
               lcount(lit(1)).as("n_touchpoints"))
          .select(lit("direct").as("channel"), col("credit"),
                  col("n_touchpoints"))
          .filter(col("n_touchpoints") > 0)
        agg.unionByName(direct)
      },
      Some("""WITH t AS (SELECT user_id, ts, event_id, event_type FROM events WHERE event_type IN ('view','click')), p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'), pr AS (SELECT p.user_id, p.event_id AS pid, p.value, t.event_type AS channel FROM p JOIN t ON t.user_id = p.user_id AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id)) AND epoch_us(p.ts) - epoch_us(t.ts) <= 604800000000), n AS (SELECT pid, CAST(count(*) AS BIGINT) AS nt FROM pr GROUP BY 1), c AS (SELECT channel, value / nt AS credit FROM pr JOIN n USING (pid)), agg AS (SELECT channel, CAST(SUM(CAST(floor(credit * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS credit, CAST(count(*) AS BIGINT) AS n_touchpoints FROM c GROUP BY 1), d AS (SELECT 'direct' AS channel, CAST(SUM(CAST(round(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS credit, CAST(count(*) AS BIGINT) AS n_touchpoints FROM p WHERE NOT EXISTS (SELECT 1 FROM n WHERE n.pid = p.event_id) HAVING count(*) > 0) SELECT * FROM agg UNION ALL SELECT * FROM d""")),

    QueryDef("q156_mad_outliers",
      "MAD robust outlier detection per event_type — median via exact interpolated quantiles, MAD = median(|x - med|), outliers flagged at |x - med| > 3 * 1.4826 * MAD (the Gaussian-consistency convention) — the robust alternative to q137's mean/std z-scores that one corrupted batch cannot drag. Round 13 (VERDICT r12 #5): the whole tail DRIVER-FINISHES off ONE (type, value, count) histogram pass when the value domain is bounded — this fixture's values sit on a saturating 2-dp grid (6.6k/17.8k/29.4k distinct at sf0.01/0.1/1: domain growth is sublinear and capped), so the corpus pays ONE aggregate and both weighted medians, the deviation fold and the outlier count run in plain Scala with EXACTLY ops.Quantiles' interpolation arithmetic (k=(n-1)*p; lo*(ce-k)+hi*(k-fl) — q120 proved it bit-equal to quantile_cont, and the driver fold reuses the identical IEEE ops, so hashes are unchanged; was 2 exactQuantiles calls + a final corpus aggregate ~ 7 driver-planned jobs ~ 1.0 s of pure job floor). Above the 2^20-distinct cap (a genuinely continuous domain at open scale) the original two-pass-histogram-refinement chain runs unchanged — the same adaptive collect-or-distribute split Quantiles/dedupGroups already use, decided from the checkpointed histogram's materialized count",
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_type"), col("value"))
        // ONE corpus pass; the checkpoint makes the cardinality probe
        // metadata-cheap and the collect a re-read, not a re-derivation
        val hist = ev.groupBy(col("event_type"), col("value"))
          .agg(lcount(lit(1)).as("c"))
          .localCheckpoint(true)
        if (hist.count() <= (1L << 20)) {
          import scala.jdk.CollectionConverters._
          import org.apache.spark.sql.Row
          import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
          // weighted medians over sorted (value, count) runs, through
          // ops.Quantiles' own rank walk and interpolation
          def median(sorted: Array[(Double, Long)]): Double =
            graft.ops.Quantiles.sortedQuantiles(sorted, Seq(0.5)).head
          val out = hist.collect().groupBy(_.getString(0)).toSeq
            .flatMap { case (tpe, rs) =>
              val n = rs.map(_.getLong(2)).sum
              val vals = rs.filter(!_.isNullAt(1))
                .map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
              val nn = vals.map(_._2).sum
              // an all-null group has no median: the quantile/join chain
              // dropped it, so the driver fold drops it too
              if (nn == 0L) None
              else {
                val med = median(vals)
                val adev = vals.groupBy { case (v, _) => math.abs(v - med) }
                  .map { case (a, g) => (a, g.map(_._2).sum) }
                  .toArray.sortBy(_._1)
                val mad = median(adev)
                // same association as the old Catalyst tree: the folded
                // (3.0 * 1.4826) literal product times mad
                val thr = 3.0 * 1.4826 * mad
                val nOut = adev.filter(_._1 > thr).map(_._2).sum
                Some(Row(tpe, med, mad, n, nOut,
                  math.floor(nOut.toDouble / n * 1e6 + 0.5) / 1e6))
              }
            }
          s.createDataFrame(out.asJava, StructType(Seq(
            StructField("event_type", StringType),
            StructField("med", DoubleType),
            StructField("mad", DoubleType),
            StructField("n", LongType, nullable = false),
            StructField("n_outliers", LongType, nullable = false),
            StructField("outlier_frac", DoubleType, nullable = false))))
        } else {
          // unbounded value domain: the original two-op refinement chain
          val med = graft.ops.Quantiles
            .exactQuantiles(ev, "event_type", "value", Seq(0.5))
            .select(col("event_type"), col("value").as("med"))
          val dev = ev.join(broadcast(med), Seq("event_type"))
            .select(col("event_type"), col("value"), col("med"),
                    abs(col("value") - col("med")).as("adev"))
          val mad = graft.ops.Quantiles
            .exactQuantiles(dev, "event_type", "adev", Seq(0.5))
            .select(col("event_type"), col("value").as("mad"))
          dev.join(broadcast(mad), Seq("event_type"))
            .groupBy(col("event_type"), col("med"), col("mad"))
            .agg(
              lcount(lit(1)).as("n"),
              count(when(col("adev") > lit(3.0) * lit(1.4826) * col("mad"), 1))
                .cast("long").as("n_outliers"))
            .select(col("event_type"), col("med"), col("mad"), col("n"),
              col("n_outliers"),
              (floor(col("n_outliers").cast("double") / col("n") * lit(1e6) + lit(0.5))
                / lit(1e6)).as("outlier_frac"))
        }
      },
      Some("""WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1), a AS (SELECT e.event_type, value, med, abs(value - med) AS adev FROM events e JOIN m USING (event_type)), md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM a GROUP BY 1) SELECT a.event_type, a.med, md.mad, CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE adev > 3.0 * 1.4826 * mad) AS BIGINT) AS n_outliers, floor(count(*) FILTER (WHERE adev > 3.0 * 1.4826 * mad) / count(*) * 1e6 + 0.5) / 1e6 AS outlier_frac FROM a JOIN md USING (event_type) GROUP BY 1, 2, 3""")),

    QueryDef("q157_woe_iv",
      "weight-of-evidence / information-value feature binning (the credit-scoring feature screen): l_extendedprice cut at its EXACT deciles (ops.Quantiles, third consumer — q120 proved the interpolation bit-equal to quantile_cont, so the bin edges and every v>edge comparison agree across engines), target = returnflag 'R'; per-bin good/bad counts, WOE = ln(good_share/bad_share) with the q115 continuity correction ((n+0.5)/(N+5.0)), and IV = sum(share_diff * woe) broadcast on every row (the psi_total pattern, grid-6 exact-decimal reduction). Bin assignment is the branch-free sum of nine v>q_k comparisons against the ONE broadcast decile row — no per-row binary search, no 9x row expand. The measured IV ~0.0004 is the HONEST answer on this fixture: the synthetic price carries no return-flag signal, and a feature screen that reports 'no predictive power' correctly is doing its job (the fires-on-fixture counterpart is q148/q156). The good/bad tallies ride the quantile operator's own passes (ops.Quantiles.nonNegEdgeBinnedCounts): there is no separate binning pass, bins are decided from bucket ids for non-target buckets and per-value IEEE comparisons for fetched ones, and since prices are non-negative the bit-prefix histogram needs no stats pass — 2 corpus jobs where quantiles-then-bin paid 4 (the 3-job equal-width fusion measured 1.15 → 0.83 s isolated at sf0.1), edges/bins/tallies bit-identical (QuantilesSpec), hashes unchanged; floor decision: FLOOR.md",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_extendedprice").as("v"),
                  (col("l_returnflag") === "R").as("bad"))
        val ps = (1 to 9).map(_ / 10.0)
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        // Quantiles.nonNegEdgeBinnedCounts rides the good/bad tallies
        // INSIDE the quantile operator's own histogram/fetch passes (the
        // q196 bit-replicate recipe), so no binning pass runs, and
        // prices are non-negative, so the bit-bucket histogram needs no
        // stats pass: 2 corpus jobs, same IEEE v > q_k comparisons, same
        // interpolation bits (QuantilesSpec pins all three outputs). The
        // WOE/IV tail stays the local-relation Catalyst chain so
        // round/log semantics are untouched.
        val (_, binN, binBad) = graft.ops.Quantiles.nonNegEdgeBinnedCounts(
          li, "v", "bad", ps)
        val tb = binBad.sum; val tg = binN.sum - tb
        val cRows = (0 to ps.size).filter(b => binN(b) > 0)
          .map(b => org.apache.spark.sql.Row(b.toLong, binN(b) - binBad(b), binBad(b)))
        val c = s.createDataFrame(cRows.asJava, StructType(Seq(
          StructField("bin", LongType, nullable = false),
          StructField("n_good", LongType, nullable = false),
          StructField("n_bad", LongType, nullable = false))))
        val e = c
          .withColumn("gs", (col("n_good") + lit(0.5)) / (lit(tg) + lit(5.0)))
          .withColumn("bs", (col("n_bad") + lit(0.5)) / (lit(tb) + lit(5.0)))
          .withColumn("woe", round(log(col("gs") / col("bs")), 4))
          .withColumn("share_diff", col("gs") - col("bs"))
        val iv = e.agg(
          sum6(col("share_diff") * col("woe")).cast("double").as("iv"))
        e.select(col("bin"), col("n_good"), col("n_bad"), col("woe"))
          .crossJoin(broadcast(iv))
      },
      Some("""WITH q AS (SELECT quantile_cont(l_extendedprice, 0.1) AS q1, quantile_cont(l_extendedprice, 0.2) AS q2, quantile_cont(l_extendedprice, 0.3) AS q3, quantile_cont(l_extendedprice, 0.4) AS q4, quantile_cont(l_extendedprice, 0.5) AS q5, quantile_cont(l_extendedprice, 0.6) AS q6, quantile_cont(l_extendedprice, 0.7) AS q7, quantile_cont(l_extendedprice, 0.8) AS q8, quantile_cont(l_extendedprice, 0.9) AS q9 FROM lineitem), b AS (SELECT CAST((CASE WHEN l_extendedprice > q1 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q2 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q3 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q4 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q5 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q6 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q7 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q8 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q9 THEN 1 ELSE 0 END) AS BIGINT) AS bin, (l_returnflag = 'R') AS bad FROM lineitem, q), c AS (SELECT bin, CAST(count(*) FILTER (WHERE NOT bad) AS BIGINT) AS n_good, CAST(count(*) FILTER (WHERE bad) AS BIGINT) AS n_bad FROM b GROUP BY 1), t AS (SELECT CAST(SUM(n_good) AS BIGINT) AS tg, CAST(SUM(n_bad) AS BIGINT) AS tb FROM c), e AS (SELECT bin, n_good, n_bad, round(ln(((n_good + 0.5) / (tg + 5.0)) / ((n_bad + 0.5) / (tb + 5.0))), 4) AS woe, (n_good + 0.5) / (tg + 5.0) - (n_bad + 0.5) / (tb + 5.0) AS share_diff FROM c, t), iv AS (SELECT CAST(SUM(CAST(floor(share_diff * woe * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS iv FROM e) SELECT bin, n_good, n_bad, woe, iv FROM e, iv""")),

    QueryDef("q158_session_survival",
      "Kaplan-Meier survival curve of session lifetime (whole hours, shared 12 h sessionizer): deaths per duration, at-risk via the reverse cumulative sum, S(t) = PRODUCT(1 - d/n) realized as exp(cumsum(ln terms)) — SQL and Spark both lack a product aggregate, and the ordered-decimal cumulative sum of 12-dp-rounded ln terms keeps the product order-independent and cross-engine deterministic (exp on identical doubles; 6-dp output grid absorbs any last-ulp libm drift, the q115 ln precedent). The terminal row (deaths = at_risk, ln undefined) is the explicit S=0 case. On this closed fixture every session has ended, so KM reduces to the empirical survival curve — the estimator's value is the risk-set form, which handles right-censored open sessions at a snapshot boundary with the SAME plan (censored rows join the risk set without a death row). Scale: the corpus pays one session rollup; every window runs over the duration GRID (~100 rows)",
      (s, d) => {
        val durs = sessionized(s, d)
          .groupBy(col("user_id"), col("sess"))
          .agg(floor((unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            / lit(3600000000.0)).cast("long").as("dur_h"))
        val deaths = durs.groupBy(col("dur_h")).agg(lcount(lit(1)).as("deaths"))
        val wDesc = Window.orderBy(col("dur_h").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val wAsc = Window.orderBy(col("dur_h"))
          .rowsBetween(Window.unboundedPreceding, 0)
        deaths
          .withColumn("at_risk", sum(col("deaths")).over(wDesc).cast("long"))
          .withColumn("lnterm",
            when(col("deaths") < col("at_risk"),
              round(log(lit(1.0) - col("deaths").cast("double")
                / col("at_risk").cast("double")), 12)))
          .withColumn("lnsurv",
            sum(col("lnterm").cast(DecimalType(38, 12))).over(wAsc).cast("double"))
          .select(col("dur_h"), col("deaths"), col("at_risk"),
            when(col("deaths") === col("at_risk"), lit(0.0))
              .otherwise(floor(exp(col("lnsurv")) * lit(1e6) + lit(0.5)) / lit(1e6))
              .as("survival"))
      },
      Some(s"""WITH $sessionizerSql, s AS (SELECT user_id, sess, CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts))) / 3600000000.0) AS BIGINT) AS dur_h FROM r GROUP BY 1, 2), d AS (SELECT dur_h, CAST(count(*) AS BIGINT) AS deaths FROM s GROUP BY 1), n AS (SELECT dur_h, deaths, CAST(SUM(deaths) OVER (ORDER BY dur_h DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS at_risk FROM d), e AS (SELECT dur_h, deaths, at_risk, CASE WHEN deaths < at_risk THEN round(ln(1.0 - CAST(deaths AS DOUBLE) / CAST(at_risk AS DOUBLE)), 12) END AS lnterm FROM n), c AS (SELECT dur_h, deaths, at_risk, CAST(SUM(CAST(lnterm AS DECIMAL(38,12))) OVER (ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS lnsurv FROM e) SELECT dur_h, deaths, at_risk, CASE WHEN deaths = at_risk THEN 0.0 ELSE floor(exp(lnsurv) * 1e6 + 0.5) / 1e6 END AS survival FROM c""")),

    QueryDef("q159_auc_rank",
      "rank-based AUC (Mann-Whitney U) of a feature as a classifier — does n_chars predict lang='en'? The evaluation-plane op every quality-classifier pipeline needs (q74's scorer, q157's IV are feature screens; this is the standard ranking metric). Scale-correct formulation: ranks are NOT a corpus-sized single-partition window — scores aggregate to their DISTINCT-VALUE domain first (the q82 recipe), average tie-ranks derive from cumulative counts over that bounded grid, and the whole statistic stays INTEGER until one final division: 2*avgrank = 2*cum_before + n + 1, rsum2 = sum(n_pos * (2*cum_before + n + 1)) accumulated in 128-bit (DECIMAL(38,0) / HUGEINT — the ~2N^2 sum would silently wrap int64 past ~2e9 docs), AUC = (rsum2 - n1*(n1+1)) / (2*n1*n0) — zero float accumulation, zero rounding hazard, grid-6 output only for presentation. AUC ~0.49 is the honest no-signal answer on this fixture (length does not predict language), the q157 counterpart",
      (s, d) => {
        val c = t(s, d, "documents")
          .select(col("n_chars").as("score"), (col("lang") === "en").as("pos"))
          .groupBy(col("score"))
          .agg(lcount(lit(1)).as("n"),
               count(when(col("pos"), 1)).cast("long").as("np"))
        val w = Window.orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, -1)
        // rsum2 accumulates as DECIMAL(38,0), not int64: np*(2*cumb+n+1)
        // ~ 2N^2 per grid row and ~2N^2 summed — a silent non-ANSI wrap
        // past N ~ 2e9 documents while the oracle widens to HUGEINT
        // (round-9 ADVICE; the q163 pattern). Operands cast before the
        // multiply; n1-family terms stay int64 (bounded by N)
        val D38 = DecimalType(38, 0)
        val t2 = c.withColumn("cumb", coalesce(sum(col("n")).over(w), lit(0L)).cast("long"))
          .agg(lsum(col("np")).as("n1"),
               lsum(col("n") - col("np")).as("n0"),
               sum(col("np").cast(D38) *
                   (lit(2L) * col("cumb") + col("n") + lit(1L)).cast(D38)).as("rsum2"))
        t2.select(col("n1"), col("n0"),
          (floor((col("rsum2") - col("n1") * (col("n1") + lit(1L))).cast("double")
            / (lit(2L) * col("n1") * col("n0")).cast("double") * lit(1e6) + lit(0.5))
            / lit(1e6)).as("auc"))
      },
      Some("""WITH d AS (SELECT n_chars AS score, (lang = 'en') AS pos FROM documents), c AS (SELECT score, CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS np FROM d GROUP BY 1), w AS (SELECT score, n, np, CAST(COALESCE(SUM(n) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb FROM c), t AS (SELECT CAST(SUM(np) AS BIGINT) AS n1, CAST(SUM(n - np) AS BIGINT) AS n0, SUM(CAST(np AS HUGEINT) * (2 * cumb + n + 1)) AS rsum2 FROM w) SELECT n1, n0, floor(CAST(rsum2 - n1 * (n1 + 1) AS DOUBLE) / CAST(2 * n1 * n0 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS auc FROM t""")),

    QueryDef("q160_position_attribution",
      "position-based (U-shaped 40/20/40) attribution completing the model family: q146 last-touch, q155 linear, and here first touch 40% / last touch 40% / middles splitting 20% (1 touch takes 100%, 2 touches 50/50) — the industry default that values discovery AND closing. Fully RATIONAL weights (no exp-decay libm hazard — a time-decay variant would pay per-row exp ulp risk; the U-shape is deterministic division only), same strictly-preceding 7-day pair join as q155 (user-keyed equi-join, per-key-bounded), positions from ONE pid-keyed window pass (rank + count share the exchange), credits on the 6-dp grid into exact decimal sums, 'direct' unchanged — all three models agree on the unattributable set by construction",
      (s, d) => {
        val ev = t(s, d, "events")
        val t0 = ev.filter(col("event_type").isin("view", "click"))
          .select(col("user_id").as("t_user"), col("ts").as("tts"),
                  col("event_id").as("tid"), col("event_type").as("channel"))
        val p0 = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("pts"),
                  col("event_id").as("pid"), col("value"))
        val pr = p0.join(t0,
            col("p_user") === col("t_user") &&
            (col("tts") < col("pts") ||
             (col("tts") === col("pts") && col("tid") < col("pid"))) &&
            (unix_micros(col("pts")) - unix_micros(col("tts")) <= 604800000000L))
          .select(col("pid"), col("value"), col("channel"),
                  col("tts"), col("tid"))
        val wOrd = Window.partitionBy(col("pid")).orderBy(col("tts"), col("tid"))
        val wAll = Window.partitionBy(col("pid"))
        val weight =
          when(col("nt") === 1, lit(1.0))
            .when(col("nt") === 2, lit(0.5))
            .when(col("rn") === 1, lit(0.4))
            .when(col("rn") === col("nt"), lit(0.4))
            .otherwise(lit(0.2) / (col("nt") - 2))
        val agg = pr
          .withColumn("rn", row_number().over(wOrd))
          .withColumn("nt", count(lit(1)).over(wAll).cast("long"))
          .select(col("channel"), (col("value") * weight).as("credit"))
          .groupBy(col("channel"))
          .agg(sum6(col("credit")).cast("double").as("credit"),
               lcount(lit(1)).as("n_touchpoints"))
        val direct = p0.join(pr.select(col("pid")).distinct(),
            Seq("pid"), "left_anti")
          .agg(dsum(round(col("value"), 6)).as("credit"),
               lcount(lit(1)).as("n_touchpoints"))
          .select(lit("direct").as("channel"), col("credit"),
                  col("n_touchpoints"))
          .filter(col("n_touchpoints") > 0)
        agg.unionByName(direct)
      },
      Some("""WITH t AS (SELECT user_id, ts, event_id, event_type FROM events WHERE event_type IN ('view','click')), p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'), pr AS (SELECT p.event_id AS pid, p.value, t.event_type AS channel, t.ts AS tts, t.event_id AS tid FROM p JOIN t ON t.user_id = p.user_id AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id)) AND epoch_us(p.ts) - epoch_us(t.ts) <= 604800000000), rk AS (SELECT pid, value, channel, row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS rn, CAST(count(*) OVER (PARTITION BY pid) AS BIGINT) AS nt FROM pr), cr AS (SELECT channel, value * (CASE WHEN nt = 1 THEN 1.0 WHEN nt = 2 THEN 0.5 WHEN rn = 1 THEN 0.4 WHEN rn = nt THEN 0.4 ELSE 0.2 / (nt - 2) END) AS credit FROM rk), agg AS (SELECT channel, CAST(SUM(CAST(floor(credit * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS credit, CAST(count(*) AS BIGINT) AS n_touchpoints FROM cr GROUP BY 1), d AS (SELECT 'direct' AS channel, CAST(SUM(CAST(round(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS credit, CAST(count(*) AS BIGINT) AS n_touchpoints FROM p WHERE NOT EXISTS (SELECT 1 FROM pr WHERE pr.pid = p.event_id) HAVING count(*) > 0) SELECT * FROM agg UNION ALL SELECT * FROM d""")),

    QueryDef("q175_gains_deciles",
      "cumulative gains / lift table (the third leg of the model-evaluation plane: q157 screens a feature by IV, q159 scores its ranking by AUC, this is the DEPLOYMENT readout — 'target the top k deciles, capture what share of positives at what lift'): l_extendedprice cut at its EXACT deciles (ops.Quantiles — interpolation proven bit-equal to quantile_cont, branch-free v>edge bin assignment against ONE broadcast edge row; the q168 counts-grid idiom was A/B'd and rejected with numbers in the code comment: prices are near-unique, so the counts 'grid' is corpus-sized), target = returnflag 'R'; per decile from the TOP down, cumulative population share, cumulative positive capture (gain), and lift = gain/pop_share. Everything stays INTEGER counts until three IEEE divisions written with the SAME expression tree in both engines (no float accumulation anywhere, no overflow: no count-count products — the lift is a ratio of ratios, not the q159 rank-sum shape), outputs on the 6-dp grid. The cumulative structure DRIVER-FINISHES over the collected 10-row decile grid (VERDICT r11 #5 — never a corpus-sized window, and no longer even grid window stages), and the binning aggregate itself is FUSED into the quantile operator's passes (ops.Quantiles.nonNegEdgeBinnedCounts, the q157/q196 recipe, whose non-negative bit-bucket histogram also needs no stats pass) — the corpus pays exactly 2 jobs. Lift ~1.0 in every decile is the HONEST readout on this fixture (price carries no return-flag signal, consistent with q157's IV~0.0004 and q159's AUC~0.49) — the value is the table, which at 100 TB is the campaign-sizing artifact every targeting decision reads; floor decision: FLOOR.md",
      (s, d) => {
        // Quantiles.nonNegEdgeBinnedCounts — the same fusion as q157,
        // pos tallies riding the quantile's own passes, 2 corpus jobs
        // where quantiles-then-bin paid 4. The q168 counts-grid idiom
        // stays rejected (prices are near-unique, the "grid" is
        // corpus-sized); this fusion wins where that lost because it
        // adds NO materialization, only aggregate columns.
        val li = t(s, d, "lineitem")
          .select(col("l_extendedprice").as("v"),
                  (col("l_returnflag") === "R").as("pos"))
        val ps = (1 to 9).map(_ / 10.0)
        // the cumulative/lift tail DRIVER-FINISHES (VERDICT r11 #5, the
        // q209/q161/q185 pattern): desc-cumulative sums, totals and the
        // three IEEE divisions run in plain Scala on the 10-cell grid.
        // The double chain (cum/tot division, then the 6-dp floor-grid)
        // is the identical per-value IEEE sequence the old column
        // expressions compiled to — hashes unchanged.
        val (_, binN, binPos) = graft.ops.Quantiles.nonNegEdgeBinnedCounts(
          li, "v", "pos", ps)
        val cells = (0 to ps.size).filter(b => binN(b) > 0)
          .map(b => (b.toLong, binN(b), binPos(b)))
          .sortBy(-_._1) // top decile first, the cumulative direction
        val totN = cells.map(_._2).sum
        val totPos = cells.map(_._3).sum
        def g6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
        var cn = 0L; var cp = 0L
        val out = cells.map { case (b, n, np) =>
          cn += n; cp += np
          val pop = cn.toDouble / totN.toDouble
          val gain = cp.toDouble / totPos.toDouble
          (b, n, np, cn, cp, g6(pop), g6(gain), g6(gain / pop))
        }
        import s.implicits._
        out.toSeq.toDF("bin", "n", "n_pos", "cum_n", "cum_pos",
                       "cum_pop_share", "gain", "lift")
      },
      Some("""WITH q AS (SELECT quantile_cont(l_extendedprice, 0.1) AS q1, quantile_cont(l_extendedprice, 0.2) AS q2, quantile_cont(l_extendedprice, 0.3) AS q3, quantile_cont(l_extendedprice, 0.4) AS q4, quantile_cont(l_extendedprice, 0.5) AS q5, quantile_cont(l_extendedprice, 0.6) AS q6, quantile_cont(l_extendedprice, 0.7) AS q7, quantile_cont(l_extendedprice, 0.8) AS q8, quantile_cont(l_extendedprice, 0.9) AS q9 FROM lineitem), b AS (SELECT CAST((CASE WHEN l_extendedprice > q1 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q2 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q3 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q4 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q5 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q6 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q7 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q8 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > q9 THEN 1 ELSE 0 END) AS BIGINT) AS bin, (l_returnflag = 'R') AS pos FROM lineitem, q), c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS n_pos FROM b GROUP BY 1), w AS (SELECT bin, n, n_pos, CAST(SUM(n) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n, CAST(SUM(n_pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos, CAST(SUM(n) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS tot_n, CAST(SUM(n_pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS tot_pos FROM c) SELECT bin, n, n_pos, cum_n, cum_pos, floor(CAST(cum_n AS DOUBLE) / CAST(tot_n AS DOUBLE) * 1e6 + 0.5) / 1e6 AS cum_pop_share, floor(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) * 1e6 + 0.5) / 1e6 AS gain, floor((CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE)) / (CAST(cum_n AS DOUBLE) / CAST(tot_n AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS lift FROM w""")),

    QueryDef("q176_seasonal_decomposition",
      "classical additive seasonal decomposition of the daily revenue series — the CONSTRUCTIVE member completing the time-series triad (q153 DIAGNOSES seasonality via ACF, q154 SMOOTHS trend via Holt, this SPLITS the series into the three parts every forecast/anomaly pipeline consumes): day_total = trend + seasonal + residual. Trend = centered 7-day moving average (the moving-average filter that exactly annihilates a period-7 seasonal pattern; null at each edge where the window is partial, the classical convention), seasonal = per-day-of-week mean of the detrended series (dow NORMALIZED to DuckDB's Sunday=0 — Spark's dayofweek is Sunday=1, the q162 off-by-one), residual = what neither explains. Determinism: daily totals and the 7-day window sum accumulate in exact DECIMAL(38,6) (order-independent; the trend division by 7.0 and every downstream subtraction are per-row IEEE ops on identical doubles), detrended values pre-round onto the 6-dp floor-grid before the per-dow decimal mean, all outputs 6-dp. Scale: the corpus pays ONE map-side-combined scan into the day grid (~2.4k rows here, bounded by calendar span at any SF — 36.5k rows per century); the unpartitioned trend window and the 7-row dow profile join (broadcast) are grid-sized, never corpus-sized. The honest fixture readout: seasonal amplitude ~±2% of the daily mean — this fixture's synthetic orders carry weak weekday structure, and the residual column says exactly how weak",
      (s, d) => {
        def g6(c: Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
        val daily = t(s, d, "orders")
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(dsum(col("o_totalprice")).as("day_total"))
        val wt = Window.orderBy(col("day")).rowsBetween(-3, 3)
        val tr = daily
          .withColumn("wsum",
            sum(col("day_total").cast(DecimalType(38, 6))).over(wt).cast("double"))
          .withColumn("wn", count(lit(1)).over(wt))
          .withColumn("trend",
            when(col("wn") === 7, g6(col("wsum") / lit(7.0))))
          .withColumn("dow", dayofweek(col("day")).cast("long") - 1L)
          // the calendar-bounded grid feeds BOTH the dow profile (via
          // the broadcast branch) and the final select — checkpoint so
          // the corpus aggregate + trend window run once, not per branch
          .localCheckpoint(true)
        val seas = tr.filter(col("trend").isNotNull)
          .groupBy(col("dow"))
          .agg((sum6(col("day_total") - col("trend")).cast("double") / count(lit(1)))
            .as("sraw"))
          .select(col("dow"), g6(col("sraw")).as("seasonal"))
        tr.join(broadcast(seas), Seq("dow"))
          .select(col("day"), col("day_total"), col("trend"), col("seasonal"),
            when(col("trend").isNotNull,
              g6(col("day_total") - col("trend") - col("seasonal"))).as("residual"))
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS day_total FROM orders GROUP BY 1), tr AS (SELECT day, day_total, CAST(SUM(CAST(day_total AS DECIMAL(38,6))) OVER w AS DOUBLE) AS wsum, count(*) OVER w AS wn, dayofweek(day) AS dow FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), t2 AS (SELECT day, day_total, CASE WHEN wn = 7 THEN floor(wsum / 7.0 * 1e6 + 0.5) / 1e6 END AS trend, CAST(dow AS BIGINT) AS dow FROM tr), seas AS (SELECT dow, floor(CAST(SUM(CAST(floor((day_total - trend) * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS seasonal FROM t2 WHERE trend IS NOT NULL GROUP BY 1) SELECT day, day_total, trend, seasonal, CASE WHEN trend IS NOT NULL THEN floor((day_total - trend - seasonal) * 1e6 + 0.5) / 1e6 END AS residual FROM t2 JOIN seas USING (dow)""")),

    QueryDef("q178_calibration_ece",
      "reliability diagram + expected calibration error — the CALIBRATION leg completing model evaluation (q159 scores DISCRIMINATION by AUC, q175 sizes DEPLOYMENT by lift; this asks whether the score MEANS what it says): the naive length scorer conf = n_chars/max(n_chars) predicting lang='en', cut into 10 equal-width confidence bins; per bin the mean claimed confidence, the empirical positive rate, their gap, and ECE = sum over bins of (n_b/N)*|gap| broadcast on every row (the q167 curve+scalar shape). A perfectly calibrated scorer has gap~0 everywhere; this one is HONESTLY terrible (ECE ~0.37: length claims high confidence it can't cash — consistent with q159's AUC~0.49 no-signal readout), and the diagram shows exactly where. Determinism: conf is one shared IEEE division against a broadcast max row, per-bin conf sums pre-round onto the 6-dp floor-grid into exact decimal, every downstream column derives from already-rounded columns with identical expression trees, ECE's weighted terms re-round before their exact grid sum. Scale: ONE corpus aggregate into the 10-row bin grid with map-side combine; the max row broadcasts; every window is grid-sized",
      (s, d) => {
        def g6(c: Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
        val docs = t(s, d, "documents")
          .select(col("n_chars"), (col("lang") === "en").as("pos"))
        val mx = docs.agg(max(col("n_chars")).cast("double").as("maxc"))
        val binned = docs.crossJoin(broadcast(mx))
          .select((col("n_chars").cast("double") / col("maxc")).as("conf"),
                  col("pos"))
          .select(least(floor(col("conf") * 10).cast("long"), lit(9L)).as("bin"),
                  col("conf"), col("pos"))
          .groupBy(col("bin"))
          .agg(lcount(lit(1)).as("n"),
               count(when(col("pos"), 1)).cast("long").as("n_pos"),
               sum6(col("conf")).cast("double").as("csum"))
        val wAll = Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        binned
          .withColumn("tot", sum(col("n")).over(wAll).cast("long"))
          .withColumn("mean_conf", g6(col("csum") / col("n")))
          .withColumn("pos_rate", g6(col("n_pos").cast("double") / col("n")))
          .withColumn("gap", g6(abs(col("mean_conf") - col("pos_rate"))))
          .withColumn("ece", g6(sum(
              g6(col("n").cast("double") / col("tot") * col("gap"))
                .cast(DecimalType(38, 6))).over(wAll).cast("double")))
          .select(col("bin"), col("n"), col("n_pos"), col("mean_conf"),
                  col("pos_rate"), col("gap"), col("ece"))
      },
      Some("""WITH mx AS (SELECT CAST(max(n_chars) AS DOUBLE) AS maxc FROM documents), s AS (SELECT CAST(n_chars AS DOUBLE) / maxc AS conf, (lang = 'en') AS pos FROM documents, mx), b AS (SELECT least(CAST(floor(conf * 10) AS BIGINT), 9) AS bin, conf, pos FROM s), c AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS n_pos, CAST(SUM(CAST(floor(conf * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS csum FROM b GROUP BY 1), w AS (SELECT bin, n, n_pos, CAST(SUM(n) OVER () AS BIGINT) AS tot, floor(csum / n * 1e6 + 0.5) / 1e6 AS mean_conf, floor(CAST(n_pos AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS pos_rate FROM c), g AS (SELECT *, floor(abs(mean_conf - pos_rate) * 1e6 + 0.5) / 1e6 AS gap FROM w) SELECT bin, n, n_pos, mean_conf, pos_rate, gap, floor(CAST(SUM(CAST(floor(CAST(n AS DOUBLE) / tot * gap * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) OVER () AS DOUBLE) * 1e6 + 0.5) / 1e6 AS ece FROM g""")),

    QueryDef("q182_isotonic_calibration",
      "isotonic (PAV) calibration of the q178 reliability curve — the FIX for what q178 diagnoses: fit the best monotone-non-decreasing map from claimed confidence to empirical positive rate, which is exactly what a production scorer ships as its calibration layer (Zadrozny & Elkan 2002). Computed via the pool-adjacent-violators MINIMAX CLOSED FORM instead of the sequential pooling loop: fit_i = max_{j<=i} min_{k>=i} A(j,k) where A(j,k) is the weighted mean positive rate over bins j..k — the classical identity that turns PAV's data-dependent iteration into three declarative grid aggregates (range means over the 55 (j,k) pairs, min over k, max over j), every intermediate a shared-expression exact value (weighted sums pre-rounded 6-dp into exact decimal over the 10-row grid, integer weights, min/max of identical doubles). The oracle restates the same closed form, so the hash gate checks the IDENTITY, not a port of the loop. Scale: the corpus pays q178's ONE binning aggregate into the checkpointed 10-row grid; everything else is 10x10 grid algebra that stays grid-sized at any corpus size. Fixture readout: the fit pools the wildly non-monotone tail bins into long flat runs — the calibrated scorer honestly says 'above the first bins, predict ~the base rate'",
      (s, d) => {
        def g6(c: Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
        val docs = t(s, d, "documents")
          .select(col("n_chars"), (col("lang") === "en").as("pos"))
        val mx = docs.agg(max(col("n_chars")).cast("double").as("maxc"))
        val grid = docs.crossJoin(broadcast(mx))
          .select(least(floor(col("n_chars").cast("double") / col("maxc") * 10)
            .cast("long"), lit(9L)).as("bin"), col("pos"))
          .groupBy(col("bin"))
          .agg(lcount(lit(1)).as("n"),
               count(when(col("pos"), 1)).cast("long").as("n_pos"))
          .select(col("bin"), col("n"),
                  g6(col("n_pos").cast("double") / col("n")).as("pos_rate"))
          .localCheckpoint(true)
        val pairs = grid.select(col("bin").as("j"))
          .crossJoin(grid.select(col("bin").as("k")))
          .filter(col("j") <= col("k"))
        val ranges = pairs
          .join(grid, col("bin") >= col("j") && col("bin") <= col("k"))
          .groupBy(col("j"), col("k"))
          .agg((sum6(col("n") * col("pos_rate")).cast("double") / sum(col("n")))
            .as("araw"))
          .select(col("j"), col("k"), g6(col("araw")).as("a"))
        val fit = ranges
          .join(grid.select(col("bin").as("i")),
                col("j") <= col("i") && col("k") >= col("i"))
          .groupBy(col("i"), col("j")).agg(min(col("a")).as("mina"))
          .groupBy(col("i")).agg(max(col("mina")).as("fit"))
        grid.join(fit, col("bin") === col("i"))
          .select(col("bin"), col("n"), col("pos_rate"), col("fit"))
      },
      Some("""WITH mx AS (SELECT CAST(max(n_chars) AS DOUBLE) AS maxc FROM documents), b AS (SELECT least(CAST(floor(CAST(n_chars AS DOUBLE) / maxc * 10) AS BIGINT), 9) AS bin, (lang = 'en') AS pos FROM documents, mx), g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, floor(CAST(count(*) FILTER (WHERE pos) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS pos_rate FROM b GROUP BY 1), pairs AS (SELECT j.bin AS j, k.bin AS k FROM g j, g k WHERE j.bin <= k.bin), ranges AS (SELECT p.j, p.k, floor(CAST(SUM(CAST(floor(g.n * g.pos_rate * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) / SUM(g.n) * 1e6 + 0.5) / 1e6 AS a FROM pairs p JOIN g ON g.bin BETWEEN p.j AND p.k GROUP BY 1, 2), mk AS (SELECT i.bin AS i, r.j, min(r.a) AS mina FROM ranges r JOIN g i ON r.j <= i.bin AND r.k >= i.bin GROUP BY 1, 2), f AS (SELECT i, max(mina) AS fit FROM mk GROUP BY 1) SELECT g.bin, g.n, g.pos_rate, f.fit FROM g JOIN f ON g.bin = f.i""")),

    QueryDef("q183_time_decay_attribution",
      "TIME-DECAY multi-touch attribution, completing the attribution family's fourth canonical model (q146 last-touch, q155 linear, q160 U-shaped): each view/click touch in the 7-day window before a purchase earns weight 0.5^(age/half-life) with a 7-day half-life — a touch at the purchase instant weighs 1, a week-old touch 0.5 — and the purchase value splits proportionally; untouched purchases land in 'direct' at full value, which must equal q146/q155's direct revenue EXACTLY (the family's cross-model invariant). Numerics: the decay is the suite's one libm pow in a hot path, handled by the established q17 recipe — the exponent is O(1) (age/half-life in [0,1]), the weight lands on the 4-dp floor-grid BEFORE any cross-row use, so a last-ulp libm disagreement between engines dies at the grid; per-purchase weight totals then sum exactly in DECIMAL(38,4), and fractional credits pre-round 6-dp into exact decimal channel sums. Scale: identical shape to q155 — user-keyed equi-join with residual time predicates (per-user-week bounded), pid-keyed weight-total aggregate joined back, no global structure anywhere",
      (s, d) => {
        val ev = t(s, d, "events")
        val t0 = ev.filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("ts").as("tts"),
                  col("event_id").as("tid"), col("event_type"))
        val p0 = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("pts"),
                  col("event_id").as("pid"), col("value"))
        val pr = p0.join(t0,
            col("p_user") === col("user_id") &&
            (col("tts") < col("pts") ||
             (col("tts") === col("pts") && col("tid") < col("pid"))) &&
            (unix_micros(col("pts")) - unix_micros(col("tts")) <= 604800000000L))
          .select(col("pid"), col("value"), col("event_type").as("channel"),
            (floor(pow(lit(0.5),
              (unix_micros(col("pts")) - unix_micros(col("tts"))).cast("double")
                / lit(604800000000.0)) * lit(1e4) + lit(0.5)) / lit(1e4))
              .cast(DecimalType(38, 4)).as("w"))
        val wt = pr.groupBy(col("pid")).agg(sum(col("w")).as("wsum"))
        val agg = pr.join(wt, Seq("pid"))
          .select(col("channel"),
            (col("value") * col("w").cast("double")
              / col("wsum").cast("double")).as("credit"))
          .groupBy(col("channel"))
          .agg(sum6(col("credit")).cast("double").as("credit"),
               lcount(lit(1)).as("n_touchpoints"))
        val direct = p0.join(wt, p0("pid") === wt("pid"), "left_anti")
          .agg(dsum(round(col("value"), 6)).as("credit"),
               lcount(lit(1)).as("n_touchpoints"))
          .select(lit("direct").as("channel"), col("credit"),
                  col("n_touchpoints"))
          .filter(col("n_touchpoints") > 0)
        agg.unionByName(direct)
      },
      Some("""WITH t AS (SELECT user_id, ts, event_id, event_type FROM events WHERE event_type IN ('view','click')), p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'), pr AS (SELECT p.user_id, p.event_id AS pid, p.value, t.event_type AS channel, CAST(floor(pow(0.5, CAST(epoch_us(p.ts) - epoch_us(t.ts) AS DOUBLE) / 604800000000.0) * 1e4 + 0.5) / 1e4 AS DECIMAL(38,4)) AS w FROM p JOIN t ON t.user_id = p.user_id AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id)) AND epoch_us(p.ts) - epoch_us(t.ts) <= 604800000000), wt AS (SELECT pid, SUM(w) AS wsum FROM pr GROUP BY 1), c AS (SELECT channel, value * CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE) AS credit FROM pr JOIN wt USING (pid)), agg AS (SELECT channel, CAST(SUM(CAST(floor(credit * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS credit, CAST(count(*) AS BIGINT) AS n_touchpoints FROM c GROUP BY 1), d AS (SELECT 'direct' AS channel, CAST(SUM(CAST(round(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS credit, CAST(count(*) AS BIGINT) AS n_touchpoints FROM p WHERE NOT EXISTS (SELECT 1 FROM wt WHERE wt.pid = p.event_id) HAVING count(*) > 0) SELECT * FROM agg UNION ALL SELECT * FROM d""")),

    QueryDef("q200_holt_winters",
      "Holt-Winters additive-seasonal smoothing of the monthly revenue series (ext.ScanFold.holtWinters, alpha=0.25, beta=0.125, gamma=0.25, m=12): the (2+m)-state completion of the forecasting fold family - q150 EWMA (level), q154 Holt (level+trend), here level+trend+a 12-slot learned seasonal profile, so the one-step-ahead forecast carries the annual cycle q176's decomposition measures statically. Seeded l=first, b=0, s=zeros - a deterministic no-lookahead seed, so the operator stays a one-pass O(m)-state fold (classic first-cycle seasonal seeding needs a buffered pre-pass). The oracle's recursive CTE carries the 12 seasonal slots as a DOUBLE list rebuilt per step (list_slice ++ [s'] ++ list_slice) and repeats the l' expression where SQL cannot bind it mid-row - deterministically identical doubles, so the fold's stream-order bit-equality holds through the 6-dp output grid. All three constants exact binary fractions. Scale: the corpus pays the one month rollup; the recursion runs on the ~79-row calendar grid (q198's), and the keyed fold itself is the q145/q154 one-exchange sorted O(m)-state shape - per-series state is 14 doubles at any corpus size",
      (s, d) => {
        val monthly = t(s, d, "orders")
          .groupBy((year(col("o_orderdate")) * lit(12) + month(col("o_orderdate")))
            .cast("long").as("tm"))
          .agg(dsum(col("o_totalprice")).as("x"))
          .withColumn("k", lit(0L)).withColumn("z", lit(0L))
        graft.ext.ScanFold.holtWinters(monthly, "k", "tm", "z", "x",
            alpha = 0.25, beta = 0.125, gamma = 0.25, m = 12)
          .select(col("tm"),
            (floor(col("level") * lit(1e6) + lit(0.5)) / lit(1e6)).as("level"),
            (floor(col("trend") * lit(1e6) + lit(0.5)) / lit(1e6)).as("trend"),
            (floor(col("seasonal") * lit(1e6) + lit(0.5)) / lit(1e6)).as("seasonal"))
      },
      Some("""WITH RECURSIVE d0 AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS tm, CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS x FROM orders GROUP BY 1), d AS (SELECT tm, x, row_number() OVER (ORDER BY tm) AS rn FROM d0), r AS (SELECT rn, tm, x, x AS l, CAST(0.0 AS DOUBLE) AS b, [CAST(0.0 AS DOUBLE),0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0] AS s FROM d WHERE rn = 1 UNION ALL SELECT d.rn, d.tm, d.x, 0.25 * (d.x - list_extract(r.s, CAST((d.rn - 1) % 12 AS INTEGER) + 1)) + 0.75 * (r.l + r.b), 0.125 * ((0.25 * (d.x - list_extract(r.s, CAST((d.rn - 1) % 12 AS INTEGER) + 1)) + 0.75 * (r.l + r.b)) - r.l) + 0.875 * r.b, list_concat(list_concat(list_slice(r.s, 1, CAST((d.rn - 1) % 12 AS INTEGER)), [0.25 * (d.x - (0.25 * (d.x - list_extract(r.s, CAST((d.rn - 1) % 12 AS INTEGER) + 1)) + 0.75 * (r.l + r.b))) + 0.75 * list_extract(r.s, CAST((d.rn - 1) % 12 AS INTEGER) + 1)]), list_slice(r.s, CAST((d.rn - 1) % 12 AS INTEGER) + 2, 12)) FROM r JOIN d ON d.rn = r.rn + 1) SELECT tm, floor(l * 1e6 + 0.5) / 1e6 AS level, floor(b * 1e6 + 0.5) / 1e6 AS trend, floor(list_extract(s, CAST((rn - 1) % 12 AS INTEGER) + 1) * 1e6 + 0.5) / 1e6 AS seasonal FROM r""")),

    QueryDef("q205_hw_backtest",
      "walk-forward backtest Holt-Winters vs Holt on the monthly revenue series - the q164 measure-your-own-operator pattern applied to q200: every month is predicted by the PREVIOUS month's one-step-ahead forecast from BOTH smoothers (strictly out-of-sample), MAE for each over the post-warmup window (rn > 25: two full seasonal cycles past the seed, so HW's learned profile has converged before it is judged), skill = MAE_hw / MAE_holt, and the verdict. The HONEST readout cuts both ways across the fixtures: monthly revenue has ONE real seasonal signal - calendar month LENGTH (31-day months book ~10% more than February) - and whether HW can exploit it is a signal-to-noise question. At sf0.01 noise swamps it and HW loses (skill 1.027: the 12 slots chase noise, hw_wins=false); at sf0.1 the 10x volume averages the noise down and HW WINS (skill 0.850, hw_wins=true) - the backtest detecting exactly when the seasonal model starts paying for its parameters is the q122/q164 measure-your-own-operator pattern doing its job. Same numeric recipe as q164: forecasts lag via ONE grid window pass, absolute errors pre-round onto the 6-dp grid into exact decimal sums; both folds and the rollup read the checkpointed ~79-row month grid, corpus touched once",
      (s, d) => {
        val monthly = t(s, d, "orders")
          .groupBy((year(col("o_orderdate")) * lit(12) + month(col("o_orderdate")))
            .cast("long").as("tm"))
          .agg(dsum(col("o_totalprice")).as("x"))
          .withColumn("k", lit(0L)).withColumn("z", lit(0L))
          .localCheckpoint(true) // both folds + the actuals read it
        val h = graft.ext.ScanFold.holt(monthly, "k", "tm", "z", "x",
            alpha = 0.25, beta = 0.125)
          .select(col("tm"), (col("level") + col("trend")).as("fh0"))
        val hw = graft.ext.ScanFold.holtWinters(monthly, "k", "tm", "z", "x",
            alpha = 0.25, beta = 0.125, gamma = 0.25, m = 12)
          .select(col("tm"), col("forecast").as("fw0"))
        val w = Window.orderBy(col("tm"))
        val j = monthly.select(col("tm"), col("x"))
          .join(broadcast(h), Seq("tm"))
          .join(broadcast(hw), Seq("tm"))
          .select(col("tm"), col("x"),
            lag(col("fh0"), 1).over(w).as("fh"),
            lag(col("fw0"), 1).over(w).as("fw"),
            row_number().over(w).as("rn"))
          .filter(col("rn") > 25)
        j.agg(lcount(lit(1)).as("n_forecasts"),
              sum6(abs(col("x") - col("fh"))).cast("double").as("ae_holt"),
              sum6(abs(col("x") - col("fw"))).cast("double").as("ae_hw"))
          .select(col("n_forecasts"),
            (floor(col("ae_holt") / col("n_forecasts") * lit(1e6) + lit(0.5)) / lit(1e6)).as("mae_holt"),
            (floor(col("ae_hw") / col("n_forecasts") * lit(1e6) + lit(0.5)) / lit(1e6)).as("mae_hw"),
            (floor(col("ae_hw") / col("ae_holt") * lit(1e6) + lit(0.5)) / lit(1e6)).as("skill"),
            (col("ae_hw") < col("ae_holt")).as("hw_wins"))
      },
      Some("""WITH RECURSIVE d0 AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS tm, CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS x FROM orders GROUP BY 1), d AS (SELECT tm, x, row_number() OVER (ORDER BY tm) AS rn FROM d0), rh AS (SELECT rn, x AS l, CAST(0.0 AS DOUBLE) AS b FROM d WHERE rn = 1 UNION ALL SELECT d.rn, 0.25 * d.x + 0.75 * (r.l + r.b), 0.125 * ((0.25 * d.x + 0.75 * (r.l + r.b)) - r.l) + 0.875 * r.b FROM rh r JOIN d ON d.rn = r.rn + 1), rw AS (SELECT rn, x, x AS l, CAST(0.0 AS DOUBLE) AS b, [CAST(0.0 AS DOUBLE),0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0,0.0] AS s FROM d WHERE rn = 1 UNION ALL SELECT d.rn, d.x, 0.25 * (d.x - list_extract(r.s, CAST((d.rn - 1) % 12 AS INTEGER) + 1)) + 0.75 * (r.l + r.b), 0.125 * ((0.25 * (d.x - list_extract(r.s, CAST((d.rn - 1) % 12 AS INTEGER) + 1)) + 0.75 * (r.l + r.b)) - r.l) + 0.875 * r.b, list_concat(list_concat(list_slice(r.s, 1, CAST((d.rn - 1) % 12 AS INTEGER)), [0.25 * (d.x - (0.25 * (d.x - list_extract(r.s, CAST((d.rn - 1) % 12 AS INTEGER) + 1)) + 0.75 * (r.l + r.b))) + 0.75 * list_extract(r.s, CAST((d.rn - 1) % 12 AS INTEGER) + 1)]), list_slice(r.s, CAST((d.rn - 1) % 12 AS INTEGER) + 2, 12)) FROM rw r JOIN d ON d.rn = r.rn + 1), j AS (SELECT d.rn, d.x, h.l + h.b AS fh, w.l + w.b + list_extract(w.s, CAST((d.rn - 1) % 12 AS INTEGER) + 1) AS fw FROM d JOIN rh h ON h.rn = d.rn - 1 JOIN rw w ON w.rn = d.rn - 1 WHERE d.rn > 25), a AS (SELECT CAST(count(*) AS BIGINT) AS n_forecasts, CAST(SUM(CAST(floor(abs(x - fh) * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS ae_holt, CAST(SUM(CAST(floor(abs(x - fw) * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS ae_hw FROM j) SELECT n_forecasts, floor(ae_holt / n_forecasts * 1e6 + 0.5) / 1e6 AS mae_holt, floor(ae_hw / n_forecasts * 1e6 + 0.5) / 1e6 AS mae_hw, floor(ae_hw / ae_holt * 1e6 + 0.5) / 1e6 AS skill, ae_hw < ae_holt AS hw_wins FROM a"""))
  )
}
