package graft.streaming

import graft.ops.Num
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Streaming-native re-expression of the reference's scheduler loop
  * (`while True: main(); sleep(3600)`, main.py:353-359 — SURVEY.md
  * §2.11). The reference recomputes everything each tick and appends one
  * snapshot row; here the event stream drives real incremental windowed
  * state with watermarks, and the hourly cadence becomes a
  * `Trigger.ProcessingTime` on the writeStream (callers choose).
  *
  * Every aggregation has a batch twin (same Column expressions) so the
  * DuckDB oracle can check the logic; the streaming variants add only
  * watermark/output-mode concerns.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionOut(user_id: Long, session_start: Timestamp,
                              n_events: Long, total_value: Double)

  /** Per-user session accumulator — must be public: the state Encoder's
    * generated code (Janino) cannot invoke accessors of a private class. */
  final case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)

  /** µs since epoch with full precision (getTime alone is ms-truncated;
    * getNanos restores the sub-ms digits). */
  private def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** The stateful-fold family's shared ingest shape (VERDICT r10 #2): a
    * 1-hour watermark, an explicit hash repartition onto the state-store
    * partition count, and a [[graft.plans.PartitionSort]] by
    * (user_id, ts, event_id) — so each group's iterator arrives
    * time-ordered at the fold and per-key in-batch memory is O(1), like
    * the persisted state. The sort itself runs in `SortExec`'s spillable
    * UnsafeExternalSorter (disk-backed), not on the lambda's heap; a hot
    * key spanning an arbitrarily large trigger interval costs the
    * executor nothing beyond the sorter's bounded pages. The explicit
    * repartition matches `StatefulOpClusteredDistribution` exactly, so
    * `EnsureRequirements` inserts no exchange above the sort to scramble
    * it, and the stateful exec's required key ordering is a satisfied
    * prefix, so no re-sort lands either (plan pinned in StreamingSpec).
    */
  private def orderedByUser(events: Dataset[Event])
      : org.apache.spark.sql.KeyValueGroupedDataset[Long, Event] = {
    val spark = events.sparkSession
    import spark.implicits._
    val n = spark.sessionState.conf.numShufflePartitions
    graft.plans.PartitionSort.sorted(
        events.withWatermark("ts", "1 hour").repartition(n, col("user_id")),
        col("user_id"), col("ts"), col("event_id"))
      .groupBy(col("user_id")).as[Long, Event]
  }

  /** Loud arrival-order guard for [[orderedByUser]] groups: the folds'
    * correctness depends on the plan delivering (ts, event_id)-sorted
    * iterators; if a future Spark re-plans the partition sort away, fail
    * the batch instead of folding in a silently wrong order. O(1) state,
    * streams through. */
  private def requireOrdered(userId: Long, it: Iterator[Event]): Iterator[Event] = {
    var lastTs = Long.MinValue
    var lastId = Long.MinValue
    it.map { e =>
      val m = micros(e.ts)
      require(m > lastTs || (m == lastTs && e.event_id >= lastId),
        s"group iterator for user $userId arrived out of order " +
          s"(($m, ${e.event_id}) after ($lastTs, $lastId)) — the upstream " +
          "partition sort was not honored by the physical plan")
      lastTs = m
      lastId = e.event_id
      e
    }
  }

  /** Tumbling daily stats — the engine-side replacement for the API's
    * server-computed `filterBy=1d` window (S3, main.py:46-49). */
  def dailyStats(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
           Num.dsum(col("value")).as("value_sum"))
      .select(col("window.start").as("day_start"), col("event_type"),
              col("n_events"), col("value_sum"))

  /** Streaming twin of [[dailyStats]] with late-data handling: 1-hour
    * watermark bounds state; updates finalize once the watermark passes
    * the window end. */
  def dailyStatsStream(events: DataFrame): DataFrame =
    dailyStatsOn(events.withWatermark("ts", "1 hour"))

  private def dailyStatsOn(events: DataFrame): DataFrame = dailyStats(events)

  /** Streaming twin of the q110 OHLC bars
    * ([[graft.ops.TimeSeriesOps.ohlcBars]]): the same DECLARATIVE
    * min_by/max_by endpoint aggregate over 1-hour tumbling windows.
    * Because the endpoint argmin/argmax is a merge-safe aggregate (not
    * a window sort), it incrementalizes for free: a late tick within
    * the watermark revises its bar's open/close in place, and state per
    * bar is one candidate row per endpoint — constant-size, like the
    * batch twin's map-side partials. */
  def hourlyOhlcStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
           max(col("value")).as("high"),
           min(col("value")).as("low"),
           max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
           count(lit(1)).cast("long").as("n_ticks"),
           Num.dsum(col("value")).as("volume"))
      .select(col("event_type"), col("window.start").as("hour"),
              col("open"), col("high"), col("low"), col("close"),
              col("n_ticks"), col("volume"))

  /** Batch sessionization: a session break is a gap > gapMinutes between
    * consecutive events of a user; sessions counted via the classic
    * lag + conditional cumulative sum (one shuffle on user_id). */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withGap = events.withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        // exact µs arithmetic — second-truncated epochs would misjudge
        // gaps that straddle a second boundary
        when(col("prev_ts").isNull ||
             unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60000000L,
             1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
           count(lit(1)).cast("long").as("n_events"),
           Num.dsum(col("value")).as("total_value"))
      .select(col("user_id"), col("session_start"), col("n_events"), col("total_value"))
  }

  /** Streaming sessionization with explicit keyed state:
    * flatMapGroupsWithState emits a session when the inactivity gap is
    * exceeded within a batch or the state times out. State per user is
    * O(1) IN FULL — the persisted row AND the in-flight fold: the group
    * iterator arrives (ts, event_id)-sorted via [[orderedByUser]]'s
    * plan-level partition sort, so the fold streams through it without
    * buffering. This is the 100 TB-safe formulation (no per-event state
    * retention, no per-trigger hot-key heap). */
  def sessionizeStream(events: Dataset[Event], gapMinutes: Int): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    orderedByUser(events)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new Timestamp(s.start), s.n, s.total))
          } else {
            // fully lazy: closed sessions stream out as the sorted input
            // streams in; the state write rides a lazy tail (`++`'s
            // by-name argument), which the exec commits on iterator
            // completion — nothing key-sized ever accumulates on the heap
            var cur = state.getOption
            requireOrdered(userId, batch).flatMap { e =>
              cur match {
                case Some(s) if e.ts.getTime - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = e.ts.getTime, n = s.n + 1,
                                    total = s.total + e.value))
                  Iterator.empty
                case Some(s) =>
                  cur = Some(SessionState(e.ts.getTime, e.ts.getTime, 1, e.value))
                  Iterator.single(
                    SessionOut(userId, new Timestamp(s.start), s.n, s.total))
                case None =>
                  cur = Some(SessionState(e.ts.getTime, e.ts.getTime, 1, e.value))
                  Iterator.empty
              }
            } ++ {
              cur.foreach { s =>
                state.update(s)
                state.setTimeoutTimestamp(s.lastTs + gapMs)
              }
              Iterator.empty
            }
          }
      }
  }

  /** Closed SCD2 validity interval emitted by [[scd2Stream]]; same
    * shape as the batch build's closed rows (q116 / ops.Scd2). */
  final case class Scd2Out(user_id: Long, run: Long, event_type: String,
                           valid_from_us: Long, valid_to_us: Long,
                           n_events: Long)

  /** The user's OPEN dimension row — public for the state Encoder. */
  final case class Scd2State(run: Long, eventType: String,
                             validFromUs: Long, n: Long)

  /** STREAMING SCD2 dimension maintenance — the ingest-time twin of
    * [[graft.ops.Scd2.merge]] (q134): each user's current attribute
    * value lives as ONE state row (run id, type, valid_from, count);
    * an arriving event of the same type extends it in place, a type
    * change EMITS the closed interval — identical to the batch build's
    * closed rows, run ids included — and opens the next run. Append
    * mode emits only closed intervals; the open rows ARE the state
    * (query them by snapshotting the state store, or run the periodic
    * batch merge — the dedupStream lambda-split pattern).
    *
    * State is DIMENSION-sized (one row per user, ~50 B), not
    * horizon-bounded — deliberately NoTimeout: the current dimension
    * row is the product and must never expire; this is exactly the
    * state size the batch dimension table occupies. Within a
    * micro-batch events process in (ts, event_id) order; like
    * sessionizeStream, cross-batch event-time regression (late rows
    * older than already-applied state) is out of scope for the O(1)
    * in-place form — route such feeds through the batch merge.
    * Timestamps keep full µs precision (getTime is ms-truncated;
    * getNanos restores the sub-ms digits). */
  def scd2Stream(events: Dataset[Event]): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    orderedByUser(events)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[Scd2State]) =>
          // fully lazy (the sessionizeStream shape): closed intervals
          // stream out as the sorted input streams in; the state write
          // rides the lazy tail
          var cur = state.getOption
          requireOrdered(userId, batch).flatMap { e =>
            cur match {
              case Some(s) if s.eventType == e.event_type =>
                cur = Some(s.copy(n = s.n + 1))
                Iterator.empty
              case Some(s) =>
                cur = Some(Scd2State(s.run + 1, e.event_type, micros(e.ts), 1))
                Iterator.single(Scd2Out(userId, s.run, s.eventType,
                  s.validFromUs, micros(e.ts), s.n))
              case None =>
                cur = Some(Scd2State(1, e.event_type, micros(e.ts), 1))
                Iterator.empty
            }
          } ++ { cur.foreach(state.update); Iterator.empty }
      }
  }

  /** Per-event balance row emitted by [[clampedBalanceStream]] — same
    * shape as q145's batch fold output. */
  final case class BalanceOut(user_id: Long, event_id: Long,
                              balance_micros: Long)

  /** The user's current saturated balance — public for the state
    * Encoder. */
  final case class BalanceState(bal: Long)

  /** STREAMING saturating wallet — the ingest-time twin of
    * [[graft.ext.ScanFold.clampedRunningSum]] (q145): the clamped fold
    * is non-associative, which costs the BATCH engine a dedicated
    * sorted scan, but incrementalizes for free on a stream — the fold
    * state IS one Long per user, and `bal := clamp(bal + delta)`
    * applied at arrival is exactly the sequential recurrence. Events
    * in `earnTypes` add `floor(value·1e6)` micros, all others subtract
    * it; the balance clamps to [lo, hi] after every event and every
    * event emits its post-update balance (Append mode).
    *
    * State is DIMENSION-sized (8 bytes per user) under NoTimeout — the
    * wallet is the product and must never expire, the same state-size
    * argument as [[scd2Stream]]. Within a micro-batch events apply in
    * (ts, event_id) order; cross-batch event-time regression cannot be
    * repaired in O(1) state (saturation erases history — the SAME
    * reason no ShardedPrefix decomposition exists), so late feeds
    * route through the batch fold, the dedupStream lambda split.
    *
    * The 8 bytes per user now covers the fold IN FLIGHT too: the group
    * iterator arrives (ts, event_id)-sorted via [[orderedByUser]]'s
    * plan-level partition sort (spillable SortExec, not a lambda heap
    * buffer), and the per-event balances stream out lazily — a hot key
    * spanning an arbitrarily large trigger interval holds one Long. */
  def clampedBalanceStream(events: Dataset[Event], lo: Long, hi: Long,
                           earnTypes: Set[String] = Set("signup", "click", "view")
                          ): Dataset[BalanceOut] = {
    import events.sparkSession.implicits._
    require(lo <= hi, s"lo=$lo must be <= hi=$hi")
    require(lo > -(1L << 61) && hi < (1L << 61),
      s"bounds [$lo,$hi] leave no overflow headroom")
    val start = math.min(hi, math.max(lo, 0L))
    orderedByUser(events)
      .flatMapGroupsWithState[BalanceState, BalanceOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[BalanceState]) =>
          var bal = state.getOption.map(_.bal).getOrElse(start)
          requireOrdered(userId, batch).map { e =>
            val delta = math.floor(e.value * 1e6).toLong *
              (if (earnTypes.contains(e.event_type)) 1L else -1L)
            bal = math.min(hi, math.max(lo, bal + delta))
            BalanceOut(userId, e.event_id, bal)
          } ++ { state.update(BalanceState(bal)); Iterator.empty }
      }
  }

  /** Per-event smoothed value emitted by [[ewmaStream]] — same shape as
    * q150's batch fold output (pre-grid: the raw recurrence value). */
  final case class EwmaOut(user_id: Long, event_id: Long, ewma: Double)

  /** The user's current smoothing state — public for the state
    * Encoder. */
  final case class EwmaState(s: Double)

  /** STREAMING EWMA — the ingest-time twin of
    * [[graft.ext.ScanFold.ewma]] (q150): one Double of state per user,
    * `s := alpha*x + (1-alpha)*s` at arrival, seeded with the first
    * value. Because the batch fold is defined as the LEFT-TO-RIGHT
    * recurrence (bit-stability is its contract), the stream applying
    * the same update in (ts, event_id) order produces EXACTLY the
    * batch values — StreamingSpec asserts bit equality, not tolerance.
    * Same dimension-sized NoTimeout state argument as
    * [[clampedBalanceStream]]; late cross-batch events route through
    * the batch fold (a smoothed value cannot be un-smoothed). As
    * there, the one Double per user covers the fold in flight too —
    * the sorted-arrival + lazy-emit shape of [[clampedBalanceStream]]. */
  def ewmaStream(events: Dataset[Event], alpha: Double): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha out of (0, 1]")
    val beta = 1.0 - alpha
    orderedByUser(events)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[EwmaState]) =>
          var s = state.getOption.map(_.s).getOrElse(Double.NaN)
          var started = state.exists
          requireOrdered(userId, batch).map { e =>
            if (!started) { s = e.value; started = true }
            else s = alpha * e.value + beta * s
            EwmaOut(userId, e.event_id, s)
          } ++ { state.update(EwmaState(s)); Iterator.empty }
      }
  }

  /** Per-event Holt–Winters row emitted by [[holtWintersStream]] —
    * same shape as the batch fold's output (pre-grid raw values). */
  final case class HwOut(user_id: Long, event_id: Long,
                         level: Double, trend: Double,
                         seasonal: Double, forecast: Double)

  /** The user's current (2+m)-value smoothing state — public for the
    * state Encoder. `t` is the 0-based observation count (drives the
    * seasonal slot rotation across micro-batches). */
  final case class HwState(l: Double, b: Double, t: Long, s: Seq[Double])

  /** STREAMING Holt–Winters — the ingest-time twin of
    * [[graft.ext.ScanFold.holtWinters]] (q200), completing the fold
    * family's stream twins (clamped balance, EWMA, now the seasonal
    * smoother): (2+m) doubles of persisted state per key, the same
    * zero-seeded additive-seasonal recursion at arrival. Because the
    * batch fold is defined as the left-to-right recurrence, the stream
    * applying the same update in (ts, event_id) order produces EXACTLY
    * the batch values — StreamingSpec asserts bit equality across
    * micro-batch boundaries (the seasonal slot rotation surviving a
    * restart of the recursion mid-cycle is the point). Same
    * dimension-sized NoTimeout state as [[ewmaStream]], and the same
    * sorted-arrival + lazy-emit shape (per-key in-flight memory is the
    * (2+m)-double state row); late cross-batch events route through the
    * batch fold (a smoothed state cannot be un-smoothed). */
  def holtWintersStream(events: Dataset[Event], alpha: Double, beta: Double,
                        gamma: Double, m: Int): Dataset[HwOut] = {
    import events.sparkSession.implicits._
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha out of (0, 1]")
    require(beta >= 0 && beta <= 1, s"beta=$beta out of [0, 1]")
    require(gamma >= 0 && gamma <= 1, s"gamma=$gamma out of [0, 1]")
    require(m >= 2, s"seasonal period m=$m must be >= 2")
    val a1 = 1.0 - alpha
    val b1 = 1.0 - beta
    val g1 = 1.0 - gamma
    orderedByUser(events)
      .flatMapGroupsWithState[HwState, HwOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[HwState]) =>
          var started = state.exists
          var l = 0.0; var b = 0.0; var t = 0L
          var s: Array[Double] = null
          state.getOption.foreach { st =>
            l = st.l; b = st.b; t = st.t; s = st.s.toArray
          }
          requireOrdered(userId, batch).map { e =>
            if (!started) {
              l = e.value; b = 0.0; t = 0L; s = new Array[Double](m)
              started = true
            } else {
              t += 1
              val sl = (t % m).toInt
              val sOld = s(sl)
              val l1 = alpha * (e.value - sOld) + a1 * (l + b)
              b = beta * (l1 - l) + b1 * b
              s(sl) = gamma * (e.value - l1) + g1 * sOld
              l = l1
            }
            HwOut(userId, e.event_id, l, b, s((t % m).toInt),
                  l + b + s(((t + 1) % m).toInt))
          } ++ { state.update(HwState(l, b, t, s.toSeq)); Iterator.empty }
      }
  }

  /** Watermarked stream-stream interval join (conversion attribution):
    * each view event joins the SAME user's purchases landing within
    * `horizonMinutes` after it. Both sides carry watermarks and the
    * join condition bounds event-time distance, so Spark can expire
    * buffered state on both sides — O(events-per-horizon) state, the
    * only stream-stream join shape that survives an unbounded 100 TB
    * ingest. */
  def conversionJoin(views: DataFrame, purchases: DataFrame,
                     horizonMinutes: Int): DataFrame = {
    val v = views.withWatermark("ts", "1 hour").alias("v")
    val p = purchases.withWatermark("ts", "2 hours").alias("p")
    v.join(p,
        expr(s"""v.user_id = p.user_id AND
                 p.ts BETWEEN v.ts AND v.ts + INTERVAL $horizonMinutes MINUTES"""))
      .select(col("v.event_id").as("view_id"), col("v.user_id").as("user_id"),
              col("v.ts").as("view_ts"), col("p.ts").as("purchase_ts"),
              col("p.value").as("purchase_value"))
  }

  /** Streaming exact dedup — the streaming twin of `Dedup.exact` (q20)
    * for continuous corpus ingestion: keeps each document's first-seen
    * occurrence, keyed on the full 128-bit md5 of the normalized text
    * (same key as the batch operator — constant-width state, no 60-bit
    * birthday merges). `dropDuplicatesWithinWatermark` bounds the state
    * store to the watermark horizon, so a perpetual ingest job holds
    * O(docs-per-horizon) state instead of growing forever; dups
    * separated by more than the horizon are the batch compaction's job
    * (run `Dedup.exact` over the sink periodically — standard
    * lambda-style split). */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  watermark: String): DataFrame =
    docs
      .withColumn("__dedup_key",
        md5(graft.functions.TextFunctions.normalize(col(textCol)).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__dedup_key")
      .drop("__dedup_key")

  /** One exploded LSH band row of an incoming document (public: the
    * Dataset Encoder's generated code cannot touch private classes). */
  final case class BandRow(doc_id: Long, ts: Timestamp, block: String,
                           band_idx: Int, bk: String, sig: Seq[Long])

  /** Per-band-bucket state: the first-arriving (representative)
    * document's id, arrival time, and full signature. */
  final case class BandBucketState(repId: Long, repTs: Long, repSig: Seq[Long])

  /** A suppression candidate: `doc_id` collided with `rep_id` in band
    * `band_idx`; `agreement` is the matching fraction of the full
    * MinHash signature. */
  final case class NearDupHit(doc_id: Long, band_idx: Int, rep_id: Long,
                              agreement: Double)

  /** STREAMING near-dup suppression — the ingest-time gate the batch
    * LSH pipeline (q22) cannot provide: documents arriving on a stream
    * are checked against everything already admitted, continuously.
    * Per-row MinHash signatures ([[graft.ext.Dedup.withMinhashSig]] —
    * stateless, no aggregation exchange) explode into LSH band rows;
    * state per (block, band, band-key) bucket is ONE representative
    * (id, ts, signature ≈ 100 bytes) with event-time timeout after
    * `horizonMs` of bucket inactivity — O(distinct buckets per
    * horizon), never per-document. Each later arrival in a bucket
    * emits a [[NearDupHit]] with its signature agreement against the
    * rep; consumers suppress a doc when any band's agreement clears
    * their threshold. Within-batch arrival order is canonicalized to
    * (ts, doc_id) IN THE PLAN — the same [[graft.plans.PartitionSort]]
    * shape as [[orderedByUser]] (explicit repartition on the bucket
    * key + spillable within-partition SortExec), so the per-bucket
    * fold streams through its iterator with O(1) heap and replays are
    * deterministic. This matters precisely for the gate's worst case:
    * a burst of near-identical spam is ONE hot bucket × one large
    * trigger, which the previous per-bucket `toSeq.sortBy` buffered in
    * memory; now the sort is disk-backed and the fold never
    * accumulates (arrival order guarded at runtime, failing loudly if
    * a future Spark re-plans the sort away). Reps older than the
    * horizon expire and their later dups are the periodic batch
    * compaction's job (same lambda split as [[dedupStream]]).
    * Batch twin: [[graft.ext.Dedup.nearDupSuppressBatch]] (q129's
    * oracle row) — StreamingSpec asserts row equality, including a
    * single bucket spanning a large micro-batch. */
  def nearDupSuppressStream(docs: DataFrame, textCol: String, idCol: String,
                            tsCol: String, blockCol: String, watermark: String,
                            horizonMs: Long, n: Int = 3, numHashes: Int = 8,
                            bands: Int = 4): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rpb = numHashes / bands
    val base = graft.ext.Dedup.withMinhashSig(
        docs.select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
                    col(blockCol).as("block"), col(textCol).as("__text")),
        "__text", "sig", n, numHashes)
      .filter(size(col("sig")) > 0)
    val banded = base.select(col("doc_id"), col("ts"), col("block"), col("sig"),
        posexplode(array((0 until bands).map { b =>
          concat_ws("|", (b * rpb until (b + 1) * rpb)
            .map(j => element_at(col("sig"), j + 1).cast("string")): _*)
        }: _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "bk")
      .withColumn("__bucket", concat_ws("\u0001",
        col("block"), col("band_idx").cast("string"), col("bk")))
      .withWatermark("ts", watermark)
    val np = docs.sparkSession.sessionState.conf.numShufflePartitions
    // the orderedByUser shape on the bucket key: explicit repartition
    // matching StatefulOpClusteredDistribution + plan-level partition
    // sort by (bucket, ts, doc_id) -- spillable SortExec, not a heap
    // buffer -- so the fold below is O(1) in flight even when one hot
    // bucket spans an entire large trigger
    graft.plans.PartitionSort.sorted(
        banded.repartition(np, col("__bucket")),
        col("__bucket"), col("ts"), col("doc_id"))
      .groupBy(col("__bucket")).as[String, BandRow]
      .flatMapGroupsWithState[BandBucketState, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (bucket: String, rows: Iterator[BandRow], state: GroupState[BandBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var cur = state.getOption
            var lastUs = Long.MinValue
            var lastId = Long.MinValue
            var lastMs = cur.map(_.repTs).getOrElse(Long.MinValue)
            rows.flatMap { r =>
              val m = micros(r.ts)
              require(m > lastUs || (m == lastUs && r.doc_id >= lastId),
                s"bucket iterator for $bucket arrived out of order " +
                  s"(($m, ${r.doc_id}) after ($lastUs, $lastId)) -- the " +
                  "upstream partition sort was not honored by the physical plan")
              lastUs = m; lastId = r.doc_id
              if (r.ts.getTime > lastMs) lastMs = r.ts.getTime
              cur match {
                case None =>
                  cur = Some(BandBucketState(r.doc_id, r.ts.getTime, r.sig))
                  Iterator.empty
                case Some(st) =>
                  val agree = st.repSig.zip(r.sig)
                    .count { case (a, b) => a == b }.toDouble / numHashes
                  Iterator.single(NearDupHit(r.doc_id, r.band_idx, st.repId, agree))
              }
            } ++ {
              // lazy tail (sessionizeStream's recipe): the state write
              // rides iterator completion; horizon counts from the
              // bucket's LAST activity (rep arrival or latest dup), so
              // an actively-colliding rep never expires mid-stream
              cur.foreach { st =>
                state.update(st)
                state.setTimeoutTimestamp(math.max(st.repTs, lastMs) + horizonMs)
              }
              Iterator.empty
            }
          }
      }
  }

  /** Streaming windowed heavy-hitter sketch: per event-time window, the
    * item stream folds into ONE fixed-size Count–Min matrix
    * ([[graft.functions.CmsBuildAgg]] — the same deterministic sketch
    * the batch plane uses in q80). The streaming twin of the "what's
    * trending" question: per-window per-item exact counts need state
    * proportional to the item vocabulary (unbounded for URLs/tokens),
    * while the sketch holds 8·d·w bytes per OPEN WINDOW regardless of
    * item cardinality, and the watermark expires closed windows'
    * state. Point-query the emitted matrix with
    * [[graft.functions.CmsFns.cmsEstimate]] — same build, same probe,
    * batch or streaming. */
  def heavyHitterSketchStream(events: DataFrame, itemCol: String,
                              tsCol: String, watermark: String,
                              windowLen: String, width: Int,
                              depth: Int): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(graft.functions.CmsFns.cmsBuild(col(itemCol), width, depth).as("sketch"))
      .select(col("window.start").as("window_start"), col("sketch"))

  /** Streaming twin of [[graft.ops.TimeSeriesOps.histogramQuantiles]]
    * (q124): fixed-bounds bucket counters per (key, tumbling window) —
    * a merge-safe commutative aggregate whose state is exactly
    * `buckets` longs per open window, with the quantile interpolation
    * running as stateless column arithmetic over the emitted counts
    * array. This is the honest streaming quantile: the EXACT
    * two-pass refinement ([[graft.ops.Quantiles]]) needs raw rows a
    * stream no longer holds, while the bounded histogram estimate
    * carries a provable one-bucket-width error and revises in place on
    * late in-watermark rows. Identical code path to the batch twin —
    * StreamingSpec asserts row equality. */
  def histogramQuantilesStream(events: DataFrame, keyCol: String,
                               tsCol: String, valCol: String,
                               windowDur: String, lo: Double, hi: Double,
                               buckets: Int, ps: Seq[Double],
                               watermark: String = "1 hour"): DataFrame =
    graft.ops.TimeSeriesOps.histogramQuantiles(
      events.withWatermark(tsCol, watermark),
      keyCol, tsCol, valCol, windowDur, lo, hi, buckets, ps)

  /** Streaming twin of [[graft.ops.TimeSeriesOps.ksDrift]] (q170): the
    * windowed one-sample KS drift monitor as an ingest-time screen —
    * per (tumbling window), B mergeable bucket counters (the q124
    * histogram state shape), D = max CDF gap vs the FROZEN reference
    * CDF as stateless column arithmetic over the emitted counts, late
    * in-watermark rows revising their window's verdict in place.
    * Identical code path to the batch twin — StreamingSpec asserts row
    * equality. Completes the streaming drift family: q115/q122 PSI
    * (mass-weighted), histogram quantiles (location), KS (shape). */
  def ksDriftStream(events: DataFrame, tsCol: String, valCol: String,
                    windowDur: String, lo: Double, hi: Double, buckets: Int,
                    refCdf: Seq[Double],
                    watermark: String = "1 hour"): DataFrame =
    graft.ops.TimeSeriesOps.ksDrift(
      events.withWatermark(tsCol, watermark),
      tsCol, valCol, windowDur, lo, hi, buckets, refCdf)

  /** Streaming twin of [[graft.ops.TimeSeriesOps.w1Drift]] (q223): the
    * windowed Wasserstein-1 drift monitor at ingest — the transport
    * metric beside [[ksDriftStream]]'s max-gap: same B mergeable
    * bucket counters per open window, W1 vs the frozen reference CDF
    * as stateless arithmetic over the emitted counts (integer-grid
    * gap terms, order-free), late in-watermark rows revising the
    * verdict in place. Identical code path to the batch twin —
    * StreamingSpec asserts row equality. */
  def w1DriftStream(events: DataFrame, tsCol: String, valCol: String,
                    windowDur: String, lo: Double, hi: Double, buckets: Int,
                    refCdf: Seq[Double], barFrac: Double = 0.02,
                    watermark: String = "1 hour"): DataFrame =
    graft.ops.TimeSeriesOps.w1Drift(
      events.withWatermark(tsCol, watermark),
      tsCol, valCol, windowDur, lo, hi, buckets, refCdf, barFrac)

  /** Streaming twin of [[graft.ops.TimeSeriesOps.benfordDrift]] (q172):
    * the windowed Benford first-digit screen at ingest — nine mergeable
    * digit counters per open window, divergence vs log10(1 + 1/d) as
    * stateless arithmetic over the emitted counts, late in-watermark
    * rows revising the verdict in place. Identical code path to the
    * batch twin — StreamingSpec asserts row equality. */
  def benfordStream(events: DataFrame, tsCol: String, valCol: String,
                    windowDur: String, bar: Double = 0.05,
                    watermark: String = "1 hour"): DataFrame =
    graft.ops.TimeSeriesOps.benfordDrift(
      events.withWatermark(tsCol, watermark), tsCol, valCol, windowDur, bar)

  /** Streaming windowed DISTINCT-count sketch: per event-time window,
    * the item stream folds into one bounded KMV sketch
    * ([[graft.functions.KmvBuildAgg]] — the same merge-safe aggregate
    * q130 runs in batch). Exact per-window distinct counting needs
    * state proportional to the item cardinality; the sketch holds
    * ≤ k longs per OPEN window, late in-watermark rows revise the
    * estimate in place, and the watermark expires closed windows. The
    * estimate column is the portable q126/q130 estimator, so a batch
    * twin over the same rows lands identical values (StreamingSpec). */
  def kmvDistinctStream(events: DataFrame, itemCol: String, tsCol: String,
                        watermark: String, windowLen: String,
                        k: Int): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(graft.functions.KmvFns.kmvBuild(
        graft.functions.TextFunctions.portableHash(col(itemCol).cast("string"), 7),
        k).as("sketch"))
      .select(col("window.start").as("window_start"),
              size(col("sketch")).cast("long").as("sketch_size"),
              graft.functions.KmvFns.kmvEstimate(col("sketch"), k).as("distinct_est"))

  /** Continuous ingest into the batch plane's partitioned report sink:
    * micro-batches land day-partitioned parquet in the SAME directory
    * layout [[graft.sinks.ReportSink.appendPartitioned]] writes, but
    * through their OWN write path — dynamic-partition OVERWRITE keyed
    * by (day, ingest_batch), not ReportSink's blind append — because
    * replay-idempotence is the property a restartable stream needs,
    * with `Trigger.AvailableNow` draining everything available then
    * stopping (the scheduled-ingest shape — the reference's hourly loop
    * as a restartable stream). The checkpoint directory holds the
    * source's processed-file offsets, so a RESTARTED job picks up only
    * files that arrived since the last run — the spec proves
    * no-reprocessing across restarts. Writes are IDEMPOTENT under
    * batch replay too: each micro-batch lands in its own
    * (day, ingest_batch=batchId) partition with dynamic partition
    * overwrite, so a batch replayed after a crash-between-write-and-
    * offset-commit OVERWRITES its own partitions instead of appending
    * duplicates — offsets + idempotent sink = exactly-once. */
  def ingestToPartitionedSink(events: DataFrame, sinkPath: String,
                              checkpointPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events
      .withColumn("day", to_date(col("ts")).cast("string"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day", "ingest_batch")
          .parquet(sinkPath); ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** File-based streaming source over an events directory (the offline
    * stand-in for the reference's polled REST source, S5). */
  def eventFileStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    spark.readStream.schema(schema).parquet(dir)
  }
}
