package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructField, StructType}

/** Distributed EXACT interpolated quantiles via two-pass histogram
  * refinement — the scale path for what Spark's `percentile` aggregate
  * does by buffering every group value in aggregation state (fine for
  * bounded groups, the declared q41 anti-pattern at 100 TB).
  *
  * Pass 1 aggregates each group to a histogram — state is one counter
  * per bucket regardless of volume. The needed order statistics
  * (floor/ceil of (n-1)·p) locate their buckets through the
  * histogram's running sum; pass 2 touches ONLY rows in those target
  * buckets (≈ n/B rows per stat), ranks their distinct values, and
  * interpolates.
  *
  * Every driver path runs on one core: [[planBuckets]] turns a sorted
  * (bucket, mass) histogram into the plan (n, each k, mass below each
  * bucket, each rank's bucket, the target buckets and their PROVEN
  * fetch bound), [[walk]] finds an order statistic in value-sorted
  * (value, mass) pairs, and [[interp]] interpolates. Two bucket keys
  * feed the planner: the equal-width [[bucketOf]] over a group's
  * [mn, mx] (any numeric column; needs a stats pass first), and the
  * IEEE bit prefix [[bitBucket]] (non-negative doubles only; needs no
  * stats, so the nonNeg* entries save a corpus job).
  *
  * When the group count is at most [[MaxDriverGroups]] the planning
  * half runs ON the driver: collect the stats and histogram
  * aggregates (two jobs), plan in plain Scala, and re-enter Spark with
  * LOCAL relations for the stats / target tables — a LocalTableScan
  * broadcast builds on the driver thread without scheduling a job, so
  * the 6-stage broadcast chain (stats ⇒ hist ⇒ cum ⇒ targets ⇒ pass 2
  * ⇒ interpolate) collapses to 3 jobs. Above the cap the fully
  * distributed chain ([[refine]] / [[interpolate]]) runs — same
  * algorithm, same arithmetic, same results.
  *
  * Result: (group, p, value) with `percentile`/`quantile_cont`
  * interpolation semantics. The interpolation is computed EXACTLY as
  * DuckDB's continuous Interpolator does —
  * `lo·(⌈k⌉−k) + hi·(k−⌊k⌋)`, with integer k returning lo directly —
  * NOT the algebraically-equal `lo + (k−⌊k⌋)·(hi−lo)`: the two differ
  * in double low bits (measured on events.value p=0.25/0.99), and the
  * driver's hash compare needs bit equality against `quantile_cont`.
  *
  * Entry points:
  *  - [[exactQuantiles]]: over raw rows, the corpus scanned twice — the
  *    default at unbounded value cardinality;
  *  - [[exactQuantilesFromCounts]]: over a pre-aggregated
  *    (group, value, count) frame, zero corpus passes — for discrete
  *    value domains (prices, counts, grades) or integer weights;
  *  - [[exactQuantileBitReplicates]]: the full frame plus hash-bit
  *    half-sample replicates from one histogram;
  *  - [[nonNegScalarQuantiles]], [[nonNegQuantilesFromCounts]],
  *    [[nonNegEdgeBinnedCounts]]: the stats-free bit-bucket forms;
  *  - [[collectedQuantilesFromCounts]]: one guarded collect for counts
  *    frames whose size is bounded by their domain.
  */
object Quantiles {

  /** Group-count ceiling for driver-side bucket planning. Collected
    * driver state under the cap is ≤ cap × buckets histogram rows —
    * strictly less than what the distributed form would broadcast for
    * the same input, so this adds no new scale assumption. */
  val MaxDriverGroups = 4096

  /** Row ceiling for finishing pass 2 on the driver. The histogram
    * PROVES the bound before any collect happens (each target bucket
    * holds at most its cnt distinct values); above it, the bucket-local
    * window ranks distributedly. ~24 MB of (value, count) pairs. */
  val MaxDriverPass2Rows: Long = 1L << 20

  /** Joins on the (g, …) keys are null-safe (`<=>`): a null group key is
    * a group, as in `percentile` and DuckDB, where a USING join would
    * drop it. The result keeps the left side's key columns. */
  private implicit class KeyJoin(l: DataFrame) {
    def keyJoin(r: DataFrame, keys: String*): DataFrame = {
      val rk = keys.map(_ + "__r")
      val rr = keys.zip(rk).foldLeft(r) { case (df, (k, k2)) => df.withColumnRenamed(k, k2) }
      l.join(rr, keys.zip(rk).map { case (k, k2) => col(k) <=> col(k2) }.reduce(_ && _))
        .drop(rk: _*)
    }
  }

  /** Exact quantiles of `valCol` per `groupCol` over raw rows; null
    * values are ignored. Result: (groupCol, p, value). */
  def exactQuantiles(df: DataFrame, groupCol: String, valCol: String,
                     ps: Seq[Double], buckets: Int = 1024,
                     maxDriverGroups: Int = MaxDriverGroups): DataFrame = {
    requireFractions(ps)
    val in = df.select(col(groupCol).as("g"), col(valCol).as("v"))
      .filter(col("v").isNotNull)
    val statsDf = in.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
    val b = bucketOf(col("v"), col("mn"), col("mx"), buckets)
    def hist(stats: DataFrame) = in.keyJoin(broadcast(stats), "g")
      .groupBy(col("g"), b.as("b"))
      .agg(count(lit(1)).as("cnt"))
    // pass 2 over only the target buckets — but rank DISTINCT VALUES
    // with cumulative counts, never rows: a tie-heavy bucket (a
    // discrete column can drop 10% of the corpus on one value) would
    // make a row_number partition corpus-sized, while its distinct
    // values stay few.
    def valueCounts(stats: DataFrame, targetBuckets: DataFrame) =
      in.keyJoin(broadcast(stats), "g")
        .withColumn("b", b)
        .keyJoin(broadcast(targetBuckets), "g", "b")
        .groupBy(col("g"), col("b"), col("v"))
        .agg(count(lit(1)).as("c"))
    driverPlanned(in.sparkSession, statsDf, ps, groupCol, maxDriverGroups)(
      hist, valueCounts
    ).getOrElse {
      // > MaxDriverGroups: fully distributed chain. The stats frame is
      // corpus-derived here, so materialize it once — every broadcast
      // otherwise re-scans and re-derives the corpus-sized input
      // (measured 3.5 s → 1 s on the q119 melt).
      val stats = statsDf.localCheckpoint(true)
      refine(stats, hist(stats), ps, groupCol)(valueCounts(stats, _))
    }
  }

  /** Quantiles from a pre-aggregated value-counts frame: one row per
    * (group, value) with its row count. No corpus access at all — both
    * the histogram and the target-bucket ranking re-aggregate `vc`,
    * which the caller should `localCheckpoint` if it was expensive to
    * build. Null values are ignored (as in [[exactQuantiles]]).
    *
    * @param vc one row per (groupCol, valCol) with its row count.
    *   Duplicate (group, value) rows SUM — the histogram aggregates
    *   them and the rank walks traverse equal values adjacently — so a
    *   per-row c=1 frame is a valid (if unaggregated) input; rows that
    *   REPEAT an already-aggregated count are the caller bug to avoid
    * @param cntCol the row-count column of `vc` */
  def exactQuantilesFromCounts(vc: DataFrame, groupCol: String, valCol: String,
                               cntCol: String, ps: Seq[Double],
                               buckets: Int = 1024,
                               maxDriverGroups: Int = MaxDriverGroups): DataFrame = {
    requireFractions(ps)
    val in = vc.select(col(groupCol).as("g"), col(valCol).as("v"),
        col(cntCol).cast("long").as("c"))
      .filter(col("v").isNotNull)
    val statsDf = in.groupBy(col("g"))
      .agg(sum(col("c")).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
    def withB(stats: DataFrame) = in.keyJoin(broadcast(stats), "g")
      .withColumn("b", bucketOf(col("v"), col("mn"), col("mx"), buckets))
    def hist(stats: DataFrame) =
      withB(stats).groupBy(col("g"), col("b")).agg(sum(col("c")).as("cnt"))
    // vc is already one row per (g, v) with its count — restricting to
    // the target buckets is a semi-join, no re-aggregation
    def valueCounts(stats: DataFrame, targetBuckets: DataFrame) =
      withB(stats).keyJoin(broadcast(targetBuckets), "g", "b")
        .select(col("g"), col("b"), col("v"), col("c"))
    driverPlanned(vc.sparkSession, statsDf, ps, groupCol, maxDriverGroups)(
      hist, valueCounts
    ).getOrElse {
      refine(statsDf, hist(statsDf), ps, groupCol)(valueCounts(statsDf, _))
    }
  }

  /** Exact interpolated quantile of the FULL frame (published as group
    * −1) plus each of `bits` hash-bit-filtered half-sample replicates
    * (groups 0..bits−1) — the BRR/half-sample shape q187/q196 use —
    * WITHOUT materializing the (bits+1)× exploded frame. Every
    * replicate is a BIT of the same hash column, so ONE histogram pass
    * carries all bits+1 group counts as bitmask sums — per-bucket
    * state is (bits+2) longs:
    *
    *  1. one aggregate → global (n, mn, mx) (1 job);
    *  2. one B-bucket histogram with a count column per replicate
    *     (1 job, ≤ B×(bits+2) longs collected);
    *  3. each replicate is planned through its own histogram column,
    *     and ONLY the union of target buckets is fetched (1 job, bound
    *     PROVEN by the histogram before the collect — each bucket
    *     contributes at most its full-frame count); each replicate then
    *     walks its bit-filtered fetched values as mass-1 pairs.
    *
    * Replicate medians all sit near the full-frame quantile, so the
    * target-bucket union is a handful of buckets: the fetch is ≈
    * |union|·n/B rows. Above [[MaxDriverPass2Rows]] (or for value types
    * a double cannot order exactly) the method falls back to the
    * exploded-frame [[exactQuantiles]] chain — same algorithm, same
    * results. Empty replicates (possible only at toy n) drop out,
    * mirroring the exploded GROUP BY. Result: (groupCol: long, p,
    * value), bit-equal to `quantile_cont` per group (QuantilesSpec pins
    * ≡ exploded).
    *
    * @param hashCol non-negative long hash with ≥ `bits` usable bits
    *   (replicate r keeps rows where bit r is set) */
  def exactQuantileBitReplicates(df: DataFrame, hashCol: String, valCol: String,
                                 bits: Int, p: Double, buckets: Int = 1024,
                                 groupCol: String = "r"): DataFrame = {
    require(bits >= 1 && bits <= 60, s"bits must be in [1,60]: $bits")
    requireFractions(Seq(p))
    val session = df.sparkSession
    val in = df.select(col(hashCol).as("h"), col(valCol).as("v"))
      .filter(col("v").isNotNull)
    def exploded = {
      val long = in
        .select(explode(sequence(lit(-1), lit(bits - 1))).as("rr"),
          col("h"), col("v"))
        .filter(col("rr") === -1 ||
          expr("(shiftright(h, cast(rr as int)) & 1) = 1"))
        .select(col("rr").cast("long").as("rr"), col("v"))
      exactQuantiles(long, "rr", "v", Seq(p), buckets)
        .withColumnRenamed("rr", groupCol)
    }
    if (!driverSafe(in.schema("v").dataType)) return exploded
    val schema = resultSchema(StructField(groupCol, LongType, nullable = false))
    val st = in.agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
      max(col("v")).as("mx")).head()                           // job 1
    if (st.getLong(0) == 0L)
      return session.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val b = bucketOf(col("v"), lit(st.getAs[Number]("mn").doubleValue),
      lit(st.getAs[Number]("mx").doubleValue), buckets)
    val hist = in.groupBy(b.as("b"))
      .agg(count(lit(1)).as("call"),
        (0 until bits).map(r =>
          sum(shiftright(col("h"), r).bitwiseAND(lit(1L))).as(s"c$r")): _*)
      .collect()                                               // job 2
    // replicate −1 is the full frame (column 1), r ≥ 0 column 2 + r
    val plans = (-1 until bits).map { r =>
      val c = if (r < 0) 1 else 2 + r
      r -> planBuckets(hist.map(row => (row.getInt(0).toLong, row.getLong(c))),
        Seq(p), s"replicate $r")
    }.filter(_._2.n > 0L)
    val needed = plans.flatMap(_._2.targetB).toSet
    val fetchBound = hist.filter(row => needed(row.getInt(0).toLong)).map(_.getLong(1)).sum
    if (fetchBound > MaxDriverPass2Rows) return exploded
    val fetched = in.withColumn("b", b)
      .filter(col("b").isInCollection(needed.map(_.toInt)))
      .select(col("b"), col("h"), col("v"))
      .collect()                                               // job 3
      .groupBy(_.getInt(0).toLong)
      .map { case (bk, rows) =>
        bk -> rows.map(r => (r.getLong(1), r.getAs[Number](2).doubleValue)).sortBy(_._2)
      }
    val resRows = plans.map { case (r, pl) =>
      val inReplicate = (h: Long) => r < 0 || ((h >> r) & 1L) == 1L
      val v = pl.values(bk => fetched.getOrElse(bk, Array.empty[(Long, Double)])
        .collect { case (h, x) if inReplicate(h) => (x, 1L) }, s"replicate $r").head
      Row(r.toLong, p, v)
    }
    session.createDataFrame(resRows.asJava, schema)
  }

  /** Exact quantile EDGES of a NON-NEGATIVE double column plus
    * per-edge-bin (count, flag-count) tallies — the quantile-cut-then-bin
    * shape (q157 WOE, q175 gains) in TWO corpus jobs, the tallies riding
    * the quantile's own passes:
    *
    *  1. bit-bucket histogram — per-bucket (count, flag-count, min,
    *     max); n rides along (no stats pass), and the riding min/max
    *     reject order-breaking inputs (negatives, NaN/Inf) loud;
    *  2. target-bucket fetch — per distinct value (count, flag-count),
    *     bound proven from the histogram before the collect.
    *
    * Binning (bin(v) = Σ_p [v > qₚ], the branch-free comparison chain
    * the callers compiled to Catalyst) then needs NO corpus pass: an
    * edge is either an order statistic itself or interpolated STRICTLY
    * between two consecutive ones, so it can only fall inside a target
    * bucket or an EMPTY bucket — every non-target bucket's rows land in
    * one bin, decided from bucket ids alone (bit-prefix buckets are
    * monotone in v), and only the fetched values compare per-value with
    * the same IEEE `v > qₚ` the Catalyst chain used. Results are
    * bit-identical to [[exactQuantiles]] edges plus a binning aggregate
    * (QuantilesSpec pins edges, bins, AND flag tallies).
    *
    * Returns (edges in `ps` order, per-bin (n, nFlag) arrays of length
    * ps.size + 1). Null values are excluded from edges AND tallies. A
    * fetch bound past [[MaxDriverPass2Rows]] (a pathological
    * distribution where ~every row shares the edge buckets) DEGRADES to
    * [[edgeBinnedFallback]], loud on stderr, instead of dying; −0.0
    * normalizes to +0.0 as in the siblings. */
  def nonNegEdgeBinnedCounts(df: DataFrame, valCol: String, flagCol: String,
                             ps: Seq[Double], shift: Int = 44)
      : (Seq[Double], Array[Long], Array[Long]) = {
    requireFractions(ps)
    require(shift >= 32 && shift <= 60, s"bit-bucket shift out of [32,60]: $shift")
    val in = df.select(nonNegV(col(valCol)).as("v"), col(flagCol).as("f"))
      .filter(col("v").isNotNull)
    val bkt = bitBucket(col("v"), shift)
    val hist = in.groupBy(bkt.as("b"))
      .agg(count(lit(1)).as("cnt"), count(when(col("f"), 1)).as("nf"),
           min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect().sortBy(_.getLong(0))                             // job 1
    require(hist.nonEmpty, "nonNegEdgeBinnedCounts: empty input")
    requireBitOrderSafe(hist.head.getLong(0), hist.head.getDouble(3),
      hist.iterator.map(_.getDouble(4)),
      "nonNegEdgeBinnedCounts", "exactQuantiles")
    val plan = planBuckets(
      hist.map(r => (r.getLong(0), r.getLong(1))), ps, "nonNegEdgeBinnedCounts")
    if (plan.fetchBound > MaxDriverPass2Rows) {
      System.err.println(s"[quantiles] nonNegEdgeBinnedCounts: target-bucket " +
        s"fetch ${plan.fetchBound} exceeds the driver bound $MaxDriverPass2Rows " +
        "— degrading to the quantiles-then-bin path")
      return edgeBinnedFallback(in, ps)
    }
    val fetched = in.withColumn("b", bkt)
      .filter(col("b").isInCollection(plan.targetB))
      .groupBy(col("b"), col("v"))
      .agg(count(lit(1)).as("c"), count(when(col("f"), 1)).as("nf"))
      .collect()                                                  // job 2
    val pairs = valuePairs(fetched, 1)(_.getLong(0))
    val edges = plan.values(b => pairs.getOrElse(b, Array.empty), "nonNegEdgeBinnedCounts")
    val edgeUpperB = plan.kOf.map(k => plan.rankBucket(math.ceil(k).toLong))
    val cnt = new Array[Long](ps.size + 1)
    val flag = new Array[Long](ps.size + 1)
    hist.iterator.filterNot(r => plan.targetB(r.getLong(0))).foreach { r =>
      val bin = edgeUpperB.count(ub => r.getLong(0) > ub)
      cnt(bin) += r.getLong(1); flag(bin) += r.getLong(2)
    }
    fetched.foreach { r =>
      val v = r.getDouble(1)
      val bin = edges.count(q => v > q)
      cnt(bin) += r.getLong(2); flag(bin) += r.getLong(3)
    }
    (edges, cnt, flag)
  }

  /** Single-group EXACT interpolated quantiles of a NON-NEGATIVE
    * double column in TWO corpus passes with NO prior stats pass (q188:
    * its conformal chain is job-floor-bound and strictly serial, so the
    * win is deleting a link). [[exactQuantiles]]' equal-width histogram
    * needs (mn, mx) before it can bin; for non-negative IEEE doubles
    * the RAW BIT PATTERN is order-preserving under signed-long
    * comparison ([[graft.functions.DoubleBitsExpr]]), so a histogram
    * keyed by `doubleToRawLongBits(v) >> shift` needs no stats at all.
    * Jobs:
    *
    *  1. bit-prefix histogram — groupBy(bits(v) >> shift) with
    *     (cnt, min, max) per bucket; the id domain is ≤ 2^(64−shift)
    *     (default shift 44 → ≤ 2^20, and SPARSE: only the exponent ×
    *     8-mantissa-bit cells the data populates). n = Σ cnt rides
    *     along; the per-bucket min/max let the driver REJECT inputs
    *     that would break bit order (negatives, NaN, ±Inf), loud.
    *  2. target-bucket fetch — per-distinct-value counts for only the
    *     buckets the ⌊k⌋/⌈k⌉ order statistics land in, bound PROVEN
    *     from the histogram before the collect; a bound past
    *     [[MaxDriverPass2Rows]] (pathological tie-mass) DEGRADES to
    *     the [[exactQuantiles]] chain, loud on stderr, so no input
    *     shape can kill a shipped query.
    *
    * Results are BIT-IDENTICAL to [[exactQuantiles]] on the same input
    * (QuantilesSpec pins random frames, ties, zeros, subnormals,
    * n = 1, and the rejection cases). −0.0 is normalized to +0.0 at
    * intake. Returns (n, p → value); n = 0 returns an empty map —
    * callers publish NULL, matching `quantile_cont` of an empty
    * relation. At 100 TB lower `shift` (more buckets) to keep the
    * per-bucket row mass driver-sized — the same knob as `buckets`
    * elsewhere. */
  def nonNegScalarQuantiles(df: DataFrame, valCol: String,
                            ps: Seq[Double], shift: Int = 44)
      : (Long, Map[Double, Double]) = {
    requireFractions(ps)
    require(shift >= 32 && shift <= 60, s"bit-bucket shift out of [32,60]: $shift")
    val in = df.select(nonNegV(col(valCol)).as("v"))
      .filter(col("v").isNotNull)
    val bkt = bitBucket(col("v"), shift)
    val histRows = in.groupBy(bkt.as("b"))
      .agg(count(lit(1)).as("cnt"), min(col("v")).as("mn"),
           max(col("v")).as("mx"))
      .collect().sortBy(_.getLong(0))                             // job 1
    if (histRows.isEmpty) return (0L, Map.empty)
    requireBitOrderSafe(histRows.head.getLong(0), histRows.head.getDouble(2),
      histRows.iterator.map(_.getDouble(3)),
      "nonNegScalarQuantiles", "exactQuantiles")
    val plan = planBuckets(
      histRows.map(r => (r.getLong(0), r.getLong(1))), ps, "nonNegScalarQuantiles")
    if (plan.fetchBound > MaxDriverPass2Rows) {
      System.err.println(s"[quantiles] nonNegScalarQuantiles: target-bucket " +
        s"fetch ${plan.fetchBound} exceeds the driver bound $MaxDriverPass2Rows " +
        "— degrading to exactQuantiles")
      val rows = exactQuantiles(in.withColumn("g", lit(1)), "g", "v", ps)
        .collect()
      return (plan.n, rows.map(r => r.getDouble(1) -> r.getDouble(2)).toMap)
    }
    val fetched = in.withColumn("b", bkt)
      .filter(col("b").isInCollection(plan.targetB))
      .groupBy(col("b"), col("v")).agg(count(lit(1)).as("c"))
      .collect()                                                  // job 2
    val pairs = valuePairs(fetched, 1)(_.getLong(0))
    (plan.n, ps.zip(plan.values(b => pairs.getOrElse(b, Array.empty),
      "nonNegScalarQuantiles")).toMap)
  }

  /** [[nonNegScalarQuantiles]]' grouped sibling over a
    * (group, value, count) frame (duplicate (g, v) rows sum, as in
    * [[exactQuantilesFromCounts]] — a per-row c=1 melt is valid input):
    * [[exactQuantilesFromCounts]] minus its stats job, for
    * NON-NEGATIVE double values. ONE groupBy(g, bits(v) >> shift) job
    * replaces the stats + histogram pair, and the riding per-bucket
    * (rows, min, max) give the driver n per group, the loud
    * negative/NaN rejection, AND the exact fetch bound (rows here =
    * distinct values, the thing job 2 actually collects — tighter than
    * the count-mass bound). Job 2 fetches only the target (g, bucket)
    * cells' (v, c) rows through a broadcast-local semi-join; the result
    * returns as a LOCAL relation, so downstream broadcast consumers
    * build without scheduling jobs. BIT-IDENTICAL to
    * [[exactQuantilesFromCounts]] on the same frame (QuantilesSpec).
    * A fetch bound past [[MaxDriverPass2Rows]] DEGRADES to
    * [[exactQuantilesFromCounts]], loud on stderr. Job 1's state is
    * ≤ groups × 2^(64−shift) sparse cells. */
  def nonNegQuantilesFromCounts(vc: DataFrame, groupCol: String,
                                valCol: String, cntCol: String,
                                ps: Seq[Double], shift: Int = 44): DataFrame = {
    requireFractions(ps)
    require(shift >= 32 && shift <= 60, s"bit-bucket shift out of [32,60]: $shift")
    val session = vc.sparkSession
    val in = vc.select(col(groupCol).as("g"), nonNegV(col(valCol)).as("v"),
        col(cntCol).cast("long").as("c"))
      .filter(col("v").isNotNull)
    val bkt = bitBucket(col("v"), shift)
    val histRows = in.groupBy(col("g"), bkt.as("b"))
      .agg(sum(col("c")).as("cnt"), count(lit(1)).as("nv"),
           min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect()                                                  // job 1
    val gType = vc.schema(groupCol).dataType
    val schema = resultSchema(StructField(groupCol, gType))
    if (histRows.isEmpty)
      return session.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val plans = histRows.groupBy(_.get(0)).toSeq.map { case (g, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      requireBitOrderSafe(sorted.head.getLong(1), sorted.head.getDouble(4),
        sorted.iterator.map(_.getDouble(5)),
        "nonNegQuantilesFromCounts", "exactQuantilesFromCounts", s" in group $g")
      g -> planBuckets(sorted.map(r => (r.getLong(1), r.getLong(2))), ps,
        s"nonNegQuantilesFromCounts group $g")
    }
    val targetCells = plans.flatMap { case (g, pl) => pl.targetB.map(b => (g, b)) }.toSet
    // the PROVEN fetch bound counts DISTINCT values (nv) in the target
    // cells — tighter than the row-mass bound of the raw-row paths
    val fetchBound = histRows
      .filter(r => targetCells((r.get(0), r.getLong(1)))).map(_.getLong(3)).sum
    if (fetchBound > MaxDriverPass2Rows) {
      System.err.println(s"[quantiles] nonNegQuantilesFromCounts: target-cell " +
        s"fetch $fetchBound exceeds the driver bound $MaxDriverPass2Rows — " +
        "degrading to exactQuantilesFromCounts")
      return exactQuantilesFromCounts(in, "g", "v", "c", ps)
        .withColumnRenamed("g", groupCol)
    }
    val targets = session.createDataFrame(
      targetCells.toSeq.map { case (g, b) => Row(g, b) }.asJava,
      StructType(Seq(StructField("g", gType),
                     StructField("b", LongType, nullable = false))))
    val fetched = in.withColumn("b", bkt)
      .keyJoin(broadcast(targets), "g", "b")
      .select(col("g"), col("b"), col("v"), col("c"))
      .collect()                                                  // job 2
    val pairs = valuePairs(fetched, 2)(r => (r.get(0), r.getLong(1)))
    val resRows = plans.flatMap { case (g, pl) =>
      groupRows(g, ps, pl.values(b => pairs.getOrElse((g, b), Array.empty),
        s"nonNegQuantilesFromCounts group $g"))
    }
    session.createDataFrame(resRows.asJava, schema)
  }

  /** ONE-JOB exact quantiles for counts frames PROVEN driver-small at
    * runtime: many real counts frames are bounded by DOMAIN, not data
    * volume (q168's priority × day-range grid ≈ 20k cells at ANY SF),
    * and for those the histogram + fetch pair is pure job-floor
    * overhead. The cap is a SAFETY bound, not an efficiency threshold:
    * q119's 583k-row frame (under the cap at sf0.1) measured a net LOSS
    * on this path — 1.01 → 1.53 s, because CollectLimit's incremental
    * partition scans plus the driver-side sort of 583k generic Rows
    * outweigh the two ~0.1 s jobs deleted — so only domain-bounded
    * grids take it. The collect is AT MOST [[MaxDriverPass2Rows]] + 1
    * rows through a LIMIT (the driver is protected BEFORE the fetch);
    * within the cap every group's pairs are sorted and planned as ONE
    * bucket through the shared core. BIT-IDENTICAL to
    * [[exactQuantilesFromCounts]] / [[nonNegQuantilesFromCounts]] on the
    * same frame (QuantilesSpec); −0.0 normalizes at intake exactly as
    * Spark's grouping would have. Past the cap returns None — callers
    * route to the scalable histogram paths, paying one bounded ≤ 24 MB
    * probe job for the attempt. Duplicate (group, value) rows sum, as
    * in the siblings. */
  def collectedQuantilesFromCounts(vc: DataFrame, groupCol: String,
                                   valCol: String, cntCol: String,
                                   ps: Seq[Double]): Option[DataFrame] = {
    requireFractions(ps)
    val in = vc.select(col(groupCol).as("g"), nonNegV(col(valCol)).as("v"),
        col(cntCol).cast("long").as("c"))
      .filter(col("v").isNotNull)
    val cap = MaxDriverPass2Rows
    val rows = in.limit((cap + 1).toInt).collect()              // the ONE job
    if (rows.length > cap) return None
    // sorting on the VALUE only: duplicate (g, v) rows land adjacent
    // and the walk sums them, exactly like the siblings
    val resRows = valuePairs(rows, 1)(_.get(0)).toSeq.flatMap { case (g, pairs) =>
      groupRows(g, ps, sortedQuantiles(pairs, ps))
    }
    Some(vc.sparkSession.createDataFrame(resRows.asJava,
      resultSchema(StructField(groupCol, vc.schema(groupCol).dataType))))
  }

  /** Quantiles of value-sorted (value, mass) pairs already on the
    * driver (q156's weighted medians, q185's slope medians): the core
    * planned as one bucket holding every pair. Zero total mass yields
    * no values. */
  private[graft] def sortedQuantiles(pairs: Array[(Double, Long)],
                                     ps: Seq[Double]): Seq[Double] =
    planBuckets(Array(0L -> pairs.iterator.map(_._2).sum), ps, "sorted pairs")
      .values(_ => pairs, "sorted pairs")

  // ──────────────────────────────────────────────────────────────────
  // the driver core: one planner, one walk, one interpolation. Plain
  // Scala over collected grid-sized aggregates — no corpus access.
  // ──────────────────────────────────────────────────────────────────

  /** One group's plan over its (bucket, mass) histogram: total n, the
    * needed k = (n−1)·p per fraction, the mass below each bucket, the
    * bucket every ⌊k⌋/⌈k⌉ order statistic lives in, and the mass the
    * target buckets hold — the fetch bound, PROVEN before any collect.
    * n ≤ 0 plans nothing: callers publish empty results, matching
    * `quantile_cont` of an empty relation. */
  private case class BucketPlan(n: Long, kOf: Seq[Double], below: Map[Long, Long],
      rankBucket: Map[Long, Long], targetB: Set[Long], fetchBound: Long) {
    /** the quantile per fraction, walking each needed rank's bucket in
      * its value-sorted (value, mass) pairs */
    def values(pairsOf: Long => Array[(Double, Long)], who: String): Seq[Double] = {
      def at(rank: Long): Double = {
        val b = rankBucket(rank)
        walk(pairsOf(b), rank - below(b), s"$who: rank $rank")
      }
      kOf.map(k => interp(k, at(math.floor(k).toLong), at(math.ceil(k).toLong)))
    }
  }

  private def planBuckets(hist: Array[(Long, Long)], ps: Seq[Double],
                          who: String): BucketPlan = {
    val sorted = hist.sortBy(_._1)
    val lows = sorted.scanLeft(0L)(_ + _._2)      // lows(i): mass below bucket i
    val n = lows.last
    val kOf = if (n <= 0L) Nil else ps.map(p => (n - 1).toDouble * p)
    // locate each needed rank's bucket: below ≤ rank < below + mass
    // (absent buckets contribute nothing, exactly like the window cumsum)
    val rankBucket = kOf.flatMap(k => Seq(math.floor(k).toLong, math.ceil(k).toLong))
      .distinct.map { rank =>
        val i = sorted.indices.find(i => rank >= lows(i) && rank < lows(i + 1))
          .getOrElse(throw new IllegalStateException(
            s"$who: rank $rank not covered by histogram"))
        rank -> sorted(i)._1
      }.toMap
    val targetB = rankBucket.values.toSet
    BucketPlan(n, kOf, sorted.iterator.map(_._1).zip(lows.iterator).toMap, rankBucket,
      targetB, sorted.collect { case (b, c) if targetB(b) => c }.sum)
  }

  /** The order statistic at index `local` of value-sorted
    * (value, mass) pairs. */
  private def walk(pairs: Array[(Double, Long)], local: Long, where: => String): Double = {
    var rest = local; var i = 0
    while (i < pairs.length) {
      val (v, c) = pairs(i)
      if (rest < c) return v
      rest -= c; i += 1
    }
    throw new IllegalStateException(s"$where missing from the fetched values")
  }

  /** DuckDB-exact interpolation (see object doc); `hi` is by-name so
    * an integer k never fetches the ceil statistic. */
  private def interp(k: Double, lo: Double, hi: => Double): Double = {
    val fl = math.floor(k); val ce = math.ceil(k)
    if (fl == ce) lo else lo * (ce - k) + hi * (k - fl)
  }

  /** Collected rows → per key, value-SORTED (value, mass) pairs read
    * from columns `vAt` (a number) and `vAt + 1` (a long). */
  private def valuePairs[K](rows: Array[Row], vAt: Int)(key: Row => K)
      : Map[K, Array[(Double, Long)]] =
    rows.groupBy(key).map { case (k, rs) =>
      k -> rs.map(r => (r.getAs[Number](vAt).doubleValue, r.getLong(vAt + 1))).sortBy(_._1)
    }

  // ──────────────────────────────────────────────────────────────────
  // bucket keys and the equal-width paths' plumbing
  // ──────────────────────────────────────────────────────────────────

  /** Equal-width bucket id over [mn, mx]; groups that are constant as
    * doubles collapse to bucket 0. Joined-stats callers pass the mn/mx
    * columns, literal-stats callers pass literals; both passes of a
    * path use the same expression, so assignment is bit-identical. The
    * arithmetic is double: `double(v)` is monotone, so bucket order and
    * the rank walks stay correct, the cast is a no-op on double
    * columns, and an int/long range wider than its type cannot
    * overflow `v − mn` (which ANSI mode would raise). The position is
    * taken as a fraction of the range before it is scaled: a range
    * narrower than `buckets` × `Double.MinPositiveValue` would round a
    * bucket width to 0.0, a division by zero. */
  private def bucketOf(v: Column, mn: Column, mx: Column, buckets: Int): Column = {
    val (lo, hi) = (mn.cast("double"), mx.cast("double"))
    when(hi > lo,
      least(lit(buckets - 1),
        floor((v.cast("double") - lo) / (hi - lo) * buckets)
          .cast("int")))
      .otherwise(lit(0))
  }

  /** −0.0-normalized double intake: numerically equal to +0.0, and
    * grouping would fold them anyway; keeps bit order total. */
  private def nonNegV(raw: Column): Column = {
    val d = raw.cast("double")
    when(d === 0.0, lit(0.0)).otherwise(d)
  }

  /** order-preserving IEEE bit-prefix bucket id
    * ([[graft.functions.DoubleBitsExpr]], codegen'd). */
  private def bitBucket(v: Column, shift: Int): Column =
    shiftright(graft.functions.DoubleBits.bits(v), shift)

  /** bit order is numeric order only for non-negative finite doubles —
    * reject order-breakers LOUD from the riding per-bucket min/max
    * (QuantilesSpec pins the rejections). Unlike the fetch bound this
    * is caller misuse, not a data-shape surprise, so it does NOT
    * degrade silently. */
  private def requireBitOrderSafe(firstBucket: Long, firstMin: Double,
      maxes: Iterator[Double], who: String, alt: String,
      where: String = ""): Unit = {
    require(firstBucket >= 0L && firstMin >= 0.0,
      s"$who: negative values$where break bit-bucket order — use $alt")
    require(maxes.forall(mx => !mx.isNaN && !mx.isInfinite),
      s"$who: NaN/Inf values$where break bit-bucket order — use $alt")
  }

  private def requireFractions(ps: Seq[Double]): Unit =
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantile fractions must be in [0,1]: $ps")

  /** value types the driver finish can order exactly through double —
    * long and decimal values go the distributed way */
  private def driverSafe(t: DataType): Boolean = t match {
    case DoubleType | FloatType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  private def resultSchema(g: StructField): StructType = StructType(Seq(
    g, StructField("p", DoubleType, nullable = false), StructField("value", DoubleType)))

  /** (g, p, value) result rows, one per distinct (p, value) */
  private def groupRows(g: Any, ps: Seq[Double], values: Seq[Double]): Seq[Row] =
    ps.zip(values).distinct.map { case (p, v) => Row(g, p, v) }

  /** Driver-side planning path: collect the grid-sized stats and
    * histogram aggregates, plan each group through [[planBuckets]], and
    * run ONE final job whose broadcast sides are all local relations (no
    * broadcast-build jobs). The plans PROVE how many rows pass 2 can
    * produce, so the collect-vs-distribute choice is made from facts
    * already in hand: small target buckets are collected and finished
    * here (one scan job, zero exchanges); large ones, or values a double
    * cannot order exactly, go through the distributed [[interpolate]].
    * Returns None when the group count exceeds `maxDriverGroups` — the
    * one extra cost of that probe is the stats job, which the fallback
    * would have run anyway. */
  private def driverPlanned(session: SparkSession, statsDf: DataFrame,
                            ps: Seq[Double], groupCol: String,
                            maxDriverGroups: Int)(
                            histOf: DataFrame => DataFrame,
                            pass2: (DataFrame, DataFrame) => DataFrame)
      : Option[DataFrame] = {
    val statsRows = statsDf.collect()                              // job 1
    if (statsRows.length > maxDriverGroups) return None
    val localStats = session.createDataFrame(statsRows.toSeq.asJava, statsDf.schema)
    val plans = histOf(localStats).collect()                       // job 2
      .groupBy(_.get(0)).toSeq.map { case (g, rows) =>
        g -> planBuckets(rows.map(r => (r.getInt(1).toLong, r.getLong(2))), ps, s"group $g")
      }
    val gType = statsDf.schema("g").dataType
    val targets = session.createDataFrame(plans.flatMap { case (g, pl) =>
        pl.rankBucket.map { case (rank, b) => Row(g, rank, b.toInt, rank - pl.below(b)) }
      }.asJava, StructType(Seq(
        StructField("g", gType), StructField("rank", LongType, nullable = false),
        StructField("b", IntegerType, nullable = false),
        StructField("local", LongType, nullable = false))))
    val vcDf = pass2(localStats, targets.select(col("g"), col("b")).distinct())
    if (driverSafe(vcDf.schema("v").dataType) &&
        plans.map(_._2.fetchBound).sum <= MaxDriverPass2Rows) {
      val pairs = valuePairs(vcDf.collect(), 2)(r => (r.get(0), r.getInt(1).toLong)) // job 3
      val resRows = plans.flatMap { case (g, pl) =>
        groupRows(g, ps, pl.values(b => pairs.getOrElse((g, b), Array.empty), s"group $g"))
      }
      Some(session.createDataFrame(resRows.asJava, resultSchema(StructField(groupCol, gType))))
    } else {
      val needs = plans.flatMap { case (g, pl) =>
        ps.zip(pl.kOf).flatMap { case (p, k) =>
          Seq(Row(g, p, k, math.floor(k).toLong), Row(g, p, k, math.ceil(k).toLong))
        }
      }
      Some(interpolate(session.createDataFrame(needs.asJava, StructType(Seq(
        StructField("g", gType), StructField("p", DoubleType, nullable = false),
        StructField("k", DoubleType, nullable = false),
        StructField("rank", LongType, nullable = false)))), targets, vcDf, groupCol))
    }
  }

  /** Shared distributed refinement (the > MaxDriverGroups path): locate
    * each needed order statistic's bucket through the histogram cumsum,
    * rank the target buckets' distinct values by cumulative count via
    * `pass2` (which receives the grid-sized (g, b) target-bucket
    * frame), and interpolate. */
  private def refine(stats: DataFrame, hist: DataFrame, ps: Seq[Double],
                     groupCol: String)
                    (pass2: DataFrame => DataFrame): DataFrame = {
    val wCum = Window.partitionBy(col("g")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // cum feeds exactly one consumer (the targets join) — a checkpoint
    // here would cost a materialization job and save nothing
    val cum = hist.withColumn("below", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
    val needs = stats.select(col("g"), col("n"),
        explode(array(ps.map(lit(_)): _*)).as("p"))
      .withColumn("k", (col("n") - 1).cast("double") * col("p"))
      .select(col("g"), col("p"), col("k"),
        explode(array(floor(col("k")).cast("long"),
                      ceil(col("k")).cast("long"))).as("rank"))
    val ranks = needs.select(col("g"), col("rank")).distinct()
    // locate each rank's bucket: below <= rank < below + cnt
    val targets = ranks.keyJoin(broadcast(cum), "g")
      .filter(col("rank") >= col("below") && col("rank") < col("below") + col("cnt"))
      .select(col("g"), col("rank"), col("b"), (col("rank") - col("below")).as("local"))
      .localCheckpoint(true)
    val targetBuckets = targets.select(col("g"), col("b")).distinct()
    interpolate(needs, targets, pass2(targetBuckets), groupCol)
  }

  /** Rank the target buckets' distinct values by cumulative count, pick
    * each needed order statistic, and interpolate (see object doc for
    * the exact arithmetic). `valCounts` is (g, b, v, c) restricted to
    * target buckets; `targets`/`needs` are grid-sized. */
  private def interpolate(needs: DataFrame, targets: DataFrame,
                          valCounts: DataFrame, groupCol: String): DataFrame = {
    // the order statistic at local index i is the value whose
    // cumulative-count range contains i
    val wVal = Window.partitionBy(col("g"), col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val statValues = valCounts
      .withColumn("vbelow", coalesce(sum(col("c")).over(wVal), lit(0L)))
      .keyJoin(broadcast(targets), "g", "b")
      .filter(col("local") >= col("vbelow") &&
              col("local") < col("vbelow") + col("c"))
      .select(col("g"), col("rank"), col("v"))
    // interpolate with DuckDB's exact arithmetic (see object doc):
    // integer k → lo; else lo·(⌈k⌉−k) + hi·(k−⌊k⌋). For integer k the
    // two rank branches resolve to the same row (lo == hi).
    needs.keyJoin(statValues, "g", "rank")
      .groupBy(col("g"), col("p"), col("k"))
      .agg(max(when(col("rank") === floor(col("k")).cast("long"), col("v"))).as("lo"),
           max(when(col("rank") === ceil(col("k")).cast("long"), col("v"))).as("hi"))
      .select(col("g").as(groupCol), col("p"),
        when(floor(col("k")) === ceil(col("k")), col("lo"))
          .otherwise(col("lo") * (ceil(col("k")) - col("k")) +
                     col("hi") * (col("k") - floor(col("k"))))
          .as("value"))
  }

  /** Degraded edge-binned path for fetch bounds past
    * [[MaxDriverPass2Rows]] (degrade, don't die): edges through the
    * never-throwing [[exactQuantiles]] chain (whose own bound decides
    * driver-finish vs distributed window ranking), then ONE corpus
    * binning aggregate applying the same IEEE `v > qₚ` literal
    * comparison chain the fused path applies per fetched value —
    * correct on any tie mass, two extra jobs. `in` is the caller's
    * normalized non-null (v, f) frame. */
  private def edgeBinnedFallback(in: DataFrame, ps: Seq[Double])
      : (Seq[Double], Array[Long], Array[Long]) = {
    val qs = exactQuantiles(in.select(lit(1).as("g"), col("v")), "g", "v", ps)
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toMap
    val edges = ps.map(qs)
    val binExpr = edges.map(q => when(col("v") > lit(q), 1).otherwise(0))
      .foldLeft(lit(0))(_ + _)
    val binned = in.groupBy(binExpr.as("bin"))
      .agg(count(lit(1)).as("c"), count(when(col("f"), 1)).as("nf"))
      .collect()
    val cnt = new Array[Long](ps.size + 1)
    val flag = new Array[Long](ps.size + 1)
    binned.foreach { r =>
      cnt(r.getInt(0)) += r.getLong(1); flag(r.getInt(0)) += r.getLong(2) }
    (edges, cnt, flag)
  }
}
