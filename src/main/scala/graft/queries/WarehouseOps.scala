package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.Num._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Warehouse-maintenance & data-quality plane (q132–q137, round 9
  * third batch): the operations that keep a 100 TB warehouse TRUSTWORTHY
  * — declarative constraint checking, CDC snapshot diffing, incremental
  * SCD2 merge — plus the classic derived-analytics trio a reference
  * user runs downstream of its snapshots (market-basket affinity,
  * cohort retention, rolling anomaly detection). The reference
  * validates implicitly (coercion sweeps + null fills around every
  * fetch, `main.py`'s try/except) and rebuilds its history from scratch
  * each run; these are the explicit, incremental, auditable forms.
  *
  * Determinism contract (SURVEY.md §5): cross-row sums in exact
  * DECIMAL(38,6); per-row double arithmetic IEEE-deterministic; ratios
  * rounded (4–6 dp) before output; every window order made total via
  * unique-id tiebreaks.
  */
object WarehouseOps {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** The q169 RFM machinery as a reusable stage (q171 runs it over a
    * DQ-gated snapshot): per-customer recency/frequency/monetary, all
    * 12 quintile edges from ONE bit-bucket quantile pass over the
    * checkpointed rollup, branch-free 1+sum(v>edge) scores, and the
    * (r,f,m) segment grid with counts + exact-decimal revenue.
    *
    * FOUR serial links (round 16, VERDICT r15 #2 — was five): the
    * recency ANCHOR (dataset max order date) is an independent corpus
    * aggregate, so it runs from a future BESIDE the rollup
    * checkpoint's materialization job instead of after it; the
    * round-13 fused stats+anchor aggregate is deleted outright because
    * the bit-prefix quantile path (ops.Quantiles
    * .nonNegQuantilesFromCounts — rec/freq/mon are non-negative by
    * construction: rec is anchored at its own max, freq is a count,
    * mon a sum of positive prices) needs NO stats at all. Chain:
    * (1) rollup checkpoint ∥ anchor, (2) bit-bucket histogram over the
    * c=1 melt, (3) target-cell fetch, (4) the scoring-grid readout —
    * each consuming the previous link's output, which is the negative
    * result that closes the floor: no further overlap exists without
    * degrading a link. Edges are bit-identical to the equal-width path
    * (QuantilesSpec) so q169/q171 hashes are unchanged. */
  private[graft] def rfmGrid(orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val sess = orders.sparkSession
    // independent of the rollup — submitted first so its job overlaps
    // the checkpoint materialization on the same executor slots.
    // blocking{}: the global pool must know this future BLOCKS on a
    // Spark action, or on low-core machines the pool can starve and
    // the intended overlap silently serializes (ADVICE r16 #2)
    val fAnchor = Future { scala.concurrent.blocking {
      orders.agg(max(col("o_orderdate"))).head().get(0) } }
    // checkpointed FIRST: feeds the quantile passes and the scoring
    // pass — un-checkpointed, each consumer re-derives the orders
    // rollup (ops/Quantiles.scala caller contract)
    val cust0 = orders.groupBy(col("o_custkey")).agg(
        max(col("o_orderdate")).as("last"),
        lcount(lit(1)).as("freq"),
        dsum(col("o_totalprice")).as("mon"))
      .localCheckpoint(true)                                // link 1 (∥ anchor)
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val gridSchema = StructType(Seq(
      StructField("r_score", LongType, nullable = false),
      StructField("f_score", LongType, nullable = false),
      StructField("m_score", LongType, nullable = false),
      StructField("n_customers", LongType, nullable = false),
      StructField("total_monetary", DoubleType)))
    // null anchor ⟺ zero input rows (fixture dates are non-null):
    // empty grid, matching the oracle's empty GROUP BY
    val ref = Await.result(fAnchor, Duration.Inf)
    if (ref == null) return sess.createDataFrame(
      java.util.Collections.emptyList[Row](), gridSchema)
    val cust = cust0
      .select(col("o_custkey"),
        datediff(lit(ref), col("last")).cast("long").as("rec"),
        col("freq"), col("mon"))
    val ps = Seq(0.2, 0.4, 0.6, 0.8)
    val metrics = Seq("rec", "freq", "mon")
    val melted = cust.select(explode(array(metrics.map(c =>
        struct(lit(c).as("metric"), col(c).cast("double").as("v"))): _*)).as("e"))
      .select(col("e.metric").as("metric"), col("e.v").as("v"), lit(1L).as("c"))
    // all 12 edges in TWO grid jobs (bit histogram + target fetch) and
    // zero stats jobs; the ≤ 12-row result is a LocalRelation, so the
    // collect is free and the edges inline as LITERALS in the scoring
    // projection (round 13 — no pivot aggregate, no crossJoin build)
    val edges = graft.ops.Quantiles
      .nonNegQuantilesFromCounts(melted, "metric", "v", "c", ps) // links 2-3
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    def score(metric: String) =
      ps.map(p => when(col(metric) > lit(edges((metric, p))), 1L).otherwise(0L))
        .foldLeft(lit(1L))(_ + _).cast("long")
    cust                                                     // link 4 (readout)
      .select(score("rec").as("r_score"),
              score("freq").as("f_score"),
              score("mon").as("m_score"), col("mon"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(lcount(lit(1)).as("n_customers"),
           sum6(col("mon")).cast("double").as("total_monetary"))
  }

  /** ONE fused pass over the checkpointed per-order basket table for
    * the market-basket family (q135/q211, round 18 — guide §2.3
    * "shuffle fewer bytes / do fewer passes"): the in-row pair
    * expansion ALSO emits one null-marker row per anchor element, so a
    * single explode+aggregate computes BOTH the (brand_a < brand_b)
    * pair supports (brand_b non-null) and the per-brand supports
    * (brand_b null — each basket element anchors exactly once, so the
    * marker count per brand equals the plain explode's per-brand
    * count; a size-1 basket emits only its marker where the unfused
    * pair pass dropped the row entirely). Before this the per-brand
    * aggregate ran as its own full explode+shuffle pass over the
    * baskets — TWICE when the optimizer did not reuse the exchange
    * across the two grid/join sides (the initial q211 plan carried
    * both copies). The tiny result (≤ brands²/2 + brands rows) is
    * localCheckpoint'd so every consumer (pair plane, both per-brand
    * join sides) reads materialized blocks instead of re-running a
    * corpus aggregate; counts and types are bit-identical to the
    * unfused form, which the oracle hash-match certifies. */
  private[graft] def basketPairPlane(sets: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    sets
      .select(posexplode(col("bs")).as(Seq("i", "brand_a")), col("bs"))
      .select(col("brand_a"),
        explode(concat(array(lit(null).cast("string")),
                       slice(col("bs"), col("i") + lit(2),
                             greatest(size(col("bs")) - col("i") - 1, lit(0)))))
          .as("brand_b"))
      .groupBy(col("brand_a"), col("brand_b"))
      .agg(lcount(lit(1)).as("cnt"))
      .localCheckpoint(true)

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q166_reconciliation",
      "cross-table amount reconciliation — the warehouse DQ op q132's row constraints cannot express: does each order header's o_totalprice equal its lineitem detail rollup? Per status: order count, mismatches beyond a 0.01 tolerance, rate, exact-decimal total absolute gap, max gap. FIRES at 100% on this fixture (the synthetic header and detail amounts are independently generated — avg gap ~158k) — exactly what a reconciliation screen exists to surface loudly. Shape: one orderkey-keyed detail rollup with full map-side combine (exact dsum), one LEFT equi-join header↔rollup (null rollup = 0.0: an order with no lines is ALL gap, not a silent skip), a status-cardinality-bounded summary. At 100 TB both sides key on orderkey — bucketed layouts make the join co-located",
      (s, d) => {
        val ls = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(dsum(col("l_extendedprice")).as("line_sum"))
        val g = t(s, d, "orders")
          .join(ls, col("o_orderkey") === col("l_orderkey"), "left")
          .select(col("o_orderstatus"),
            (col("o_totalprice") - coalesce(col("line_sum"), lit(0.0))).as("gap"))
        g.groupBy(col("o_orderstatus")).agg(
            lcount(lit(1)).as("n_orders"),
            count(when(abs(col("gap")) > 0.01, 1)).cast("long").as("n_mismatch"),
            sum6(abs(col("gap"))).cast("double").as("total_abs_gap"),
            (floor(max(abs(col("gap"))) * lit(1e2) + lit(0.5)) / lit(1e2))
              .as("max_abs_gap"))
          .select(col("o_orderstatus"), col("n_orders"), col("n_mismatch"),
            (floor(col("n_mismatch").cast("double") / col("n_orders") * lit(1e6)
              + lit(0.5)) / lit(1e6)).as("mismatch_rate"),
            col("total_abs_gap"), col("max_abs_gap"))
      },
      Some("""WITH ls AS (SELECT l_orderkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS line_sum FROM lineitem GROUP BY 1), j AS (SELECT o_orderstatus, o_totalprice, COALESCE(line_sum, 0.0) AS line_sum FROM orders LEFT JOIN ls ON o_orderkey = l_orderkey), g AS (SELECT o_orderstatus, o_totalprice - line_sum AS gap FROM j) SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders, CAST(count(*) FILTER (WHERE abs(gap) > 0.01) AS BIGINT) AS n_mismatch, floor(count(*) FILTER (WHERE abs(gap) > 0.01) / count(*) * 1e6 + 0.5) / 1e6 AS mismatch_rate, CAST(SUM(CAST(floor(abs(gap) * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS total_abs_gap, floor(max(abs(gap)) * 1e2 + 0.5) / 1e2 AS max_abs_gap FROM g GROUP BY 1""")),

    QueryDef("q168_ship_latency_quantiles",
      "order-to-ship latency SLA profile: EXACT p50/p90/p99 of (l_shipdate - o_orderdate) in days per order priority — the fulfillment readout behind every 'urgent ships faster?' question, and the fourth ops.Quantiles consumer, here on a JOIN-DERIVED measure (detail joined to header on orderkey — the operator composes with the relational plane, not just raw columns). Latency is an INTEGER day count, so the counts-grid path applies: ONE join+aggregate pass collapses the corpus to the (priority, latency) grid (priorities x distinct day counts — bounded by the DATE RANGE, not data volume), and since that bound holds at ANY SF the round-16 guarded limit-collect (collectedQuantilesFromCounts) computes the order statistics directly on the driver in ONE further job — no checkpoint, no histogram machinery; interpolation is the q120 bit-equal arithmetic so the unrounded outputs hash-match, and the over-cap branch (never taken on a bounded grid) checkpoints the grid and runs the histogram path. The fixture's synthetic dates produce negative latencies and a heavy tail (p90 ~1400 days) — honest readings of decorrelated dates, and exactly the shape a latency SLA screen must not hide. Scale: one orderkey equi-join (bucket-co-locatable) fused with the grid rollup, then grid-sized work only",
      (s, d) => {
        // latency is an INTEGER day count — a bounded domain (priorities
        // x distinct day counts), so the counts-frame path applies: ONE
        // join+aggregate pass collapses the corpus to (priority, lat, n),
        // the checkpointed grid feeds every quantile pass, and the
        // join never runs twice (round-9 #3: the un-checkpointed join
        // re-ran once per driver-planned job)
        val grid = t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority"),
                  datediff(col("l_shipdate"), col("o_orderdate"))
                    .cast("double").as("lat"))
          .groupBy(col("o_orderpriority"), col("lat"))
          .agg(count(lit(1)).as("c"))
        // the grid is (priorities × distinct day counts) — bounded by
        // the DATE RANGE, not the data volume, so the one-job guarded
        // collect applies at ANY SF (round 16): join+rollup straight
        // into the limit-collect, order statistics on the driver, and
        // the output is a LocalRelation. The checkpoint is only needed
        // on the (never-taken-here) over-cap branch, where the
        // histogram jobs would re-run the join otherwise
        graft.ops.Quantiles.collectedQuantilesFromCounts(grid,
            "o_orderpriority", "lat", "c", Seq(0.5, 0.9, 0.99))
          .getOrElse {
            val vc = grid.localCheckpoint(true)
            graft.ops.Quantiles.exactQuantilesFromCounts(vc,
              "o_orderpriority", "lat", "c", Seq(0.5, 0.9, 0.99))
          }
      },
      Some("""WITH l AS (SELECT o_orderpriority, CAST(date_diff('day', o_orderdate, l_shipdate) AS DOUBLE) AS lat FROM lineitem JOIN orders ON l_orderkey = o_orderkey) SELECT o_orderpriority, CAST(0.5 AS DOUBLE) AS p, quantile_cont(lat, 0.5) AS value FROM l GROUP BY 1 UNION ALL SELECT o_orderpriority, CAST(0.9 AS DOUBLE), quantile_cont(lat, 0.9) FROM l GROUP BY 1 UNION ALL SELECT o_orderpriority, CAST(0.99 AS DOUBLE), quantile_cont(lat, 0.99) FROM l GROUP BY 1""")),

    QueryDef("q169_rfm_segmentation",
      "RFM customer segmentation — THE classic customer-analytics op: recency (days since last order, anchored at the dataset's max order date), frequency (order count), monetary (exact-decimal revenue) per customer, each scored 1-5 by quintile, then the (r,f,m) segment grid with customer counts and exact-decimal revenue. Scores deliberately do NOT use ntile() — a global ntile over the customer dimension single-partitions at 1e9 customers; instead all 12 quintile EDGES come from ONE melt + exactQuantiles pass over the localCheckpoint'd customer rollup (round 9's three calls = 9 jobs collapsed to one 3-job call; the checkpoint stops the quantile and scoring passes re-deriving the orders groupBy ~10x — the round-9 251x plan bug). Round 16 (VERDICT r15 #2) cut the chain to FOUR serial links: the recency anchor is an independent corpus aggregate submitted from a future BESIDE the rollup checkpoint's job, and the round-13 fused stats+anchor aggregate is deleted outright because the bit-prefix quantile path (nonNegQuantilesFromCounts over the c=1 melt — rec/freq/mon non-negative by construction) needs no stats pass at all; the 12-row driver-local quantile result inlines as LITERALS in the scoring projection (round 13 — no pivot aggregate, no crossJoin build). Chain: checkpoint ∥ anchor → bit histogram → target fetch → scoring grid, each consuming the previous link's output — the recorded negative result: no further overlap exists without degrading a link. Edges bit-identical to the equal-width path (QuantilesSpec), hashes unchanged. Each score is the branch-free 1 + sum of v>edge comparisons (the q157 recipe). Bit-equality of the cast-to-double melt vs per-column calls is QuantilesSpec-pinned. Uniform convention: score 5 = highest value of the metric, so r_score 5 = LEAST recent (stated, not hidden). Segment grid <= 125 rows",
      (s, d) => rfmGrid(t(s, d, "orders")),
      Some("""WITH cust AS (SELECT o_custkey, CAST(date_diff('day', max(o_orderdate), (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS rec, CAST(count(*) AS BIGINT) AS freq, CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS mon FROM orders GROUP BY 1), q AS (SELECT quantile_cont(rec, 0.2) AS r1, quantile_cont(rec, 0.4) AS r2, quantile_cont(rec, 0.6) AS r3, quantile_cont(rec, 0.8) AS r4, quantile_cont(freq, 0.2) AS f1, quantile_cont(freq, 0.4) AS f2, quantile_cont(freq, 0.6) AS f3, quantile_cont(freq, 0.8) AS f4, quantile_cont(mon, 0.2) AS m1, quantile_cont(mon, 0.4) AS m2, quantile_cont(mon, 0.6) AS m3, quantile_cont(mon, 0.8) AS m4 FROM cust), sc AS (SELECT CAST(1 + (CASE WHEN rec > r1 THEN 1 ELSE 0 END) + (CASE WHEN rec > r2 THEN 1 ELSE 0 END) + (CASE WHEN rec > r3 THEN 1 ELSE 0 END) + (CASE WHEN rec > r4 THEN 1 ELSE 0 END) AS BIGINT) AS r_score, CAST(1 + (CASE WHEN freq > f1 THEN 1 ELSE 0 END) + (CASE WHEN freq > f2 THEN 1 ELSE 0 END) + (CASE WHEN freq > f3 THEN 1 ELSE 0 END) + (CASE WHEN freq > f4 THEN 1 ELSE 0 END) AS BIGINT) AS f_score, CAST(1 + (CASE WHEN mon > m1 THEN 1 ELSE 0 END) + (CASE WHEN mon > m2 THEN 1 ELSE 0 END) + (CASE WHEN mon > m3 THEN 1 ELSE 0 END) + (CASE WHEN mon > m4 THEN 1 ELSE 0 END) AS BIGINT) AS m_score, mon FROM cust, q) SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_customers, CAST(SUM(CAST(floor(mon * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS total_monetary FROM sc GROUP BY 1, 2, 3""")),

    QueryDef("q171_warehouse_pipeline",
      "END-TO-END warehouse maintenance cycle in ONE pipeline (VERDICT r9 #8 — the round-9 operators COMPOSING, not just coexisting; the q78 pattern for the warehouse plane): an incoming snapshot with injected corruption (every 13th key's total negated) passes the DQ GATE (q132's row predicates as a quarantine filter — violating rows never reach the warehouse, their count is reported), the gated snapshot is CDC-DIFFED against the previous one (q133's ops.Cdc.snapshotDiff — quarantined rows that existed before surface honestly as deletes), the diff FOLDS FORWARD the maintained per-priority aggregate (q143's incremental machinery, state kept in exact DECIMAL(38,6) so incremental==batch is a theorem — the oracle recomputes the maintained totals FROM SCRATCH over the gated snapshot and the hash must agree), and the final readout is the RFM SEGMENT GRID (q169's quantile-edge machinery) over the accepted data, with the pipeline audit (n_quarantined, insert/delete/update counts, maintained totals, surviving priority-group count) broadcast on every row. Scale: each stage keys on orderkey or custkey (bucket-co-locatable), audit scalars are grid-bounded driver state, and the RFM stage reuses the checkpointed-rollup + one-multi-quantile-pass plan. Round 12 (VERDICT r11 #8) collapsed the diff-side stages: the diff lineage's only consumer is now ONE (change_type, old_pri, new_pri) aggregate whose collected grid drives the change audit AND the incremental fold in driver-side exact BigDecimal — the eager corpus-wide diff checkpoint, the separate audit collect and the delta/oldAgg join chain (r10 Prof8: ~2.3 s of the old 3.5-4 s total) are gone; what remains is quarantine count + one diff-aggregate job + the orders rollup + RFM, each irreducible (a composition still costs what its stages cost, but now only its stages). Round 13 closes the floor ask (VERDICT r12 #6) by OVERLAPPING the irreducible stages: the three audit-side actions are independent of each other AND of the RFM chain, so they are submitted from futures while the RFM chain runs on the calling thread — Spark schedules concurrent jobs over the same 32 slots, and the composition's wall-clock drops from the serial sum (~8 job floors) to max(RFM chain, audit side): measured 2.19 -> 1.71-1.78 s at sf0.1 in a load-5 working window where the same run also re-measured untouched q136 at 0.99-1.02 (i.e. the delta is real, the absolute numbers carry the window's noise), unchanged hashes — only submission order changes; every result is awaited before assembly. DECISION (the round-11 <= 1.5 s bar, recorded; re-settled round 16 per VERDICT r15 #2): the remaining wall-clock IS the RFM chain running at max overlap — quarantine/diff/old-rollup are fully hidden behind it — and round 16 shortened that chain itself from five serial links to four (rfmGrid's anchor future + the stats-free bit-bucket quantile path; see the rfmGrid scaladoc). The dependency chain that forbids further overlap is now explicit: checkpoint materialization → bit histogram (needs the checkpoint) → target fetch (needs the histogram's bucket plan) → scoring-grid readout (needs the fetched edges as literals); every other stage of the composition is already concurrent. The composition costs exactly its longest stage, which is the definition of done for a pipeline demo; floor decision: FLOOR.md",
      (s, d) => {
        import graft.ops.Num.D
        val k = col("o_orderkey")
        val orders = t(s, d, "orders")
        val oldS = orders.filter(k % 10 =!= 3)
        val raw = orders.filter(k % 10 =!= 7)
          .withColumn("o_totalprice",
            when(k % 13 === 0, -col("o_totalprice"))
              .otherwise(when(k % 5 === 0, col("o_totalprice") + 1.0)
                .otherwise(col("o_totalprice"))))
          .withColumn("o_orderpriority",
            when(k % 7 === 0, lit("0-REPRIORITIZED"))
              .otherwise(col("o_orderpriority")))
        // 1. DQ gate (q132 predicates as a filter): quarantine violators.
        // gated stays a LINEAGE over the cached orders scan, not a
        // checkpoint: its consumers (the diff build, the RFM rollup) are
        // one cheap cached-scan each, and a checkpoint materialization
        // job measured as a net loss at this width
        val ok = col("o_totalprice") > 0 &&
          col("o_orderstatus").isin("F", "O", "P")
        val gated = raw.filter(ok)
        // the three audit-side actions (quarantine count, diff grid,
        // old-snapshot rollup) are mutually independent and independent
        // of the RFM chain — submitted CONCURRENTLY (round 13, the q171
        // floor ask): Spark schedules jobs from separate driver threads
        // side by side on the same 32 slots, so the composition's
        // wall-clock is max(RFM chain, audit side) instead of the sum
        // of 3 serial job floors + the chain. Identical results — only
        // submission order changes.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        // blocking{} on every Spark-action future: the shared global
        // pool must be told these block, or on low-core machines the
        // intended overlap can starve the pool and silently serialize
        // (ADVICE r16 #2)
        val fQuar = Future { scala.concurrent.blocking {
          raw.filter(!ok).agg(count(lit(1))).head.getLong(0) } }
        // 2.+3. CDC diff -> change audit + incremental fold, DRIVER-
        // FINISHED off ONE grid (VERDICT r11 #8): the diff lineage's
        // only consumer is now a single (change_type, old_pri, new_pri)
        // aggregate — counts + exact DECIMAL(38,6) sums of both sides —
        // so the eager corpus-wide diff checkpoint, the separate change-
        // audit collect, and the delta/oldAgg join chain all collapse
        // into one corpus job plus Scala BigDecimal folds on the ≤
        // |types|·|priorities|² grid. Decimal adds are exact and order-
        // free, and the final double is BigDecimal.doubleValue — the
        // same correctly-rounded conversion the old Decimal cast chain
        // used, so the published values are unchanged.
        val diff = graft.ops.Cdc.snapshotDiff(oldS, gated,
            Seq("o_orderkey"), Seq("o_totalprice", "o_orderpriority"))
        val fGridRows = Future { scala.concurrent.blocking {
          diff.groupBy(col("change_type"),
              col("old_o_orderpriority").as("og"),
              col("new_o_orderpriority").as("ng"))
            .agg(count(lit(1)).as("n"),
                 sum(col("old_o_totalprice").cast(D)).as("ov"),
                 sum(col("new_o_totalprice").cast(D)).as("nv"))
            .collect()
        } }
        val fOldAggRows = Future { scala.concurrent.blocking {
          oldS.groupBy(col("o_orderpriority").as("g"))
            .agg(count(lit(1)).cast("long").as("n"),
                 sum(col("o_totalprice").cast(D)).as("sd"))
            .collect()
        } }
        // 4. RFM readout over the accepted snapshot: launched on THIS
        // thread while the three audit jobs run beside it; rfmGrid's
        // internal chain (checkpoint, stats, quantile passes) blocks
        // here, which is exactly the overlap window
        val rfm = rfmGrid(gated)
        val gridRows = Await.result(fGridRows, Duration.Inf)
        val chg = gridRows.groupBy(_.getString(0))
          .map { case (ct, rs) => ct -> rs.map(_.getLong(3)).sum }
        val zero = java.math.BigDecimal.ZERO
        def dec(r: org.apache.spark.sql.Row, i: Int): java.math.BigDecimal =
          if (r.isNullAt(i)) zero else r.getDecimal(i)
        // per-priority (dn, dv): removed side keys on old_pri, added on new
        val delta = new scala.collection.mutable.HashMap[String, (Long, java.math.BigDecimal)]()
        def fold(g: String, dn: Long, dv: java.math.BigDecimal): Unit = {
          val (n0, v0) = delta.getOrElse(g, (0L, zero))
          delta(g) = (n0 + dn, v0.add(dv))
        }
        gridRows.foreach { r =>
          val ct = r.getString(0)
          if (ct == "delete" || ct == "update")
            fold(r.getString(1), -r.getLong(3), dec(r, 4).negate())
          if (ct == "insert" || ct == "update")
            fold(r.getString(2), r.getLong(3), dec(r, 5))
        }
        val oldAgg = Await.result(fOldAggRows, Duration.Inf)
          .map(r => r.getString(0) -> (r.getLong(1), dec(r, 2))).toMap
        val maintained = (oldAgg.keySet ++ delta.keySet).toSeq.map { g =>
          val (n0, v0) = oldAgg.getOrElse(g, (0L, zero))
          val (dn, dv) = delta.getOrElse(g, (0L, zero))
          (n0 + dn, v0.add(dv))
        }.filter(_._1 > 0)
        val mn = maintained.map(_._1).sum
        val mt = maintained.map(_._2).foldLeft(zero)(_.add(_)).doubleValue()
        val np = maintained.size.toLong
        val nQuar = Await.result(fQuar, Duration.Inf)
        // the RFM grid (already computed alongside) + broadcast audit
        rfm
          .withColumn("n_quarantined", lit(nQuar))
          .withColumn("n_insert", lit(chg.getOrElse("insert", 0L)))
          .withColumn("n_delete", lit(chg.getOrElse("delete", 0L)))
          .withColumn("n_update", lit(chg.getOrElse("update", 0L)))
          .withColumn("maintained_n_orders", lit(mn))
          .withColumn("maintained_total_price", lit(mt))
          .withColumn("n_priorities", lit(np))
      },
      Some("""WITH raw AS (SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus, CASE WHEN o_orderkey % 13 = 0 THEN -o_totalprice WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice, CASE WHEN o_orderkey % 7 = 0 THEN '0-REPRIORITIZED' ELSE o_orderpriority END AS o_orderpriority FROM orders WHERE o_orderkey % 10 <> 7), gated AS (SELECT * FROM raw WHERE o_totalprice > 0 AND o_orderstatus IN ('F','O','P')), quar AS (SELECT CAST(count(*) AS BIGINT) AS n_quarantined FROM raw WHERE NOT (o_totalprice > 0 AND o_orderstatus IN ('F','O','P'))), olds AS (SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_orderkey % 10 <> 3), chg AS (SELECT CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT) AS n_insert, CAST(count(*) FILTER (WHERE n.o_orderkey IS NULL) AS BIGINT) AS n_delete, CAST(count(*) FILTER (WHERE o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL AND (o.o_totalprice IS DISTINCT FROM n.o_totalprice OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)) AS BIGINT) AS n_update FROM olds o FULL OUTER JOIN (SELECT o_orderkey, o_totalprice, o_orderpriority FROM gated) n ON o.o_orderkey = n.o_orderkey), mm AS (SELECT CAST(count(*) AS BIGINT) AS maintained_n_orders, CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS maintained_total_price, CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities FROM gated), cust AS (SELECT o_custkey, CAST(date_diff('day', max(o_orderdate), (SELECT max(o_orderdate) FROM gated)) AS BIGINT) AS rec, CAST(count(*) AS BIGINT) AS freq, CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS mon FROM gated GROUP BY 1), q AS (SELECT quantile_cont(rec, 0.2) AS r1, quantile_cont(rec, 0.4) AS r2, quantile_cont(rec, 0.6) AS r3, quantile_cont(rec, 0.8) AS r4, quantile_cont(freq, 0.2) AS f1, quantile_cont(freq, 0.4) AS f2, quantile_cont(freq, 0.6) AS f3, quantile_cont(freq, 0.8) AS f4, quantile_cont(mon, 0.2) AS m1, quantile_cont(mon, 0.4) AS m2, quantile_cont(mon, 0.6) AS m3, quantile_cont(mon, 0.8) AS m4 FROM cust), sc AS (SELECT CAST(1 + (CASE WHEN rec > r1 THEN 1 ELSE 0 END) + (CASE WHEN rec > r2 THEN 1 ELSE 0 END) + (CASE WHEN rec > r3 THEN 1 ELSE 0 END) + (CASE WHEN rec > r4 THEN 1 ELSE 0 END) AS BIGINT) AS r_score, CAST(1 + (CASE WHEN freq > f1 THEN 1 ELSE 0 END) + (CASE WHEN freq > f2 THEN 1 ELSE 0 END) + (CASE WHEN freq > f3 THEN 1 ELSE 0 END) + (CASE WHEN freq > f4 THEN 1 ELSE 0 END) AS BIGINT) AS f_score, CAST(1 + (CASE WHEN mon > m1 THEN 1 ELSE 0 END) + (CASE WHEN mon > m2 THEN 1 ELSE 0 END) + (CASE WHEN mon > m3 THEN 1 ELSE 0 END) + (CASE WHEN mon > m4 THEN 1 ELSE 0 END) AS BIGINT) AS m_score, mon FROM cust, q), grid AS (SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_customers, CAST(SUM(CAST(floor(mon * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS total_monetary FROM sc GROUP BY 1, 2, 3) SELECT grid.*, quar.n_quarantined, chg.n_insert, chg.n_delete, chg.n_update, mm.maintained_n_orders, mm.maintained_total_price, mm.n_priorities FROM grid, quar, chg, mm""")),

    QueryDef("q132_dq_constraints",
      "declarative data-quality constraint suite (the Deequ/Great-Expectations surface as pure Catalyst aggregates): 4 row predicates + a PK-uniqueness check over lineitem, 2 row predicates + a customer FK referential check over orders, each emitting (check_name, n_rows, n_violations, pass). The engine point is FUSION: all row checks over a table compile into ONE aggregate pass (one scan, one map-side partial count per predicate — never a job per constraint), uniqueness is one hash aggregate on the key, the FK check one equi-join against DISTINCT dim keys that AQE broadcasts when small. Two checks genuinely FIRE on this fixture (discount>0.08 rows; the synthetic lineitem PK has ~12k duplicate groups) — a DQ suite that only ever passes demonstrates nothing",
      (s, d) => {
        import graft.ops.DataQuality._
        val li = t(s, d, "lineitem")
        val orders = t(s, d, "orders")
        val customer = t(s, d, "customer")
        val liChecks = check(li,
          rowChecks = Seq(
            RowCheck("lineitem.quantity_range",
              !(col("l_quantity") > 0 && col("l_quantity") <= 60)),
            RowCheck("lineitem.discount_range",
              !(col("l_discount") >= 0 && col("l_discount") <= 0.08)),
            RowCheck("lineitem.shipdate_complete", col("l_shipdate").isNull),
            RowCheck("lineitem.returnflag_accepted",
              !col("l_returnflag").isin("A", "N", "R"))),
          uniques = Seq(UniqueCheck("lineitem.line_pk_unique",
            Seq("l_orderkey", "l_linenumber"))))
        val oChecks = check(orders,
          rowChecks = Seq(
            RowCheck("orders.totalprice_positive", !(col("o_totalprice") > 0)),
            RowCheck("orders.status_accepted",
              !col("o_orderstatus").isin("F", "O", "P"))),
          fks = Seq(FkCheck("orders.custkey_fk", "o_custkey",
            customer, "c_custkey")))
        liChecks.unionByName(oChecks)
      },
      Some("""WITH lrc AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE NOT (l_quantity > 0 AND l_quantity <= 60)) AS BIGINT) AS v_qty, CAST(count(*) FILTER (WHERE NOT (l_discount >= 0 AND l_discount <= 0.08)) AS BIGINT) AS v_disc, CAST(count(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT) AS v_ship, CAST(count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')) AS BIGINT) AS v_rf FROM lineitem), orc AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE NOT (o_totalprice > 0)) AS BIGINT) AS v_tp, CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')) AS BIGINT) AS v_st FROM orders), uq AS (SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS v FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)), fk AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT) AS v FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o_custkey = c.c_custkey), allc AS (SELECT 'lineitem.quantity_range' AS check_name, n AS n_rows, v_qty AS n_violations FROM lrc UNION ALL SELECT 'lineitem.discount_range', n, v_disc FROM lrc UNION ALL SELECT 'lineitem.shipdate_complete', n, v_ship FROM lrc UNION ALL SELECT 'lineitem.returnflag_accepted', n, v_rf FROM lrc UNION ALL SELECT 'lineitem.line_pk_unique', n, v FROM uq UNION ALL SELECT 'orders.totalprice_positive', n, v_tp FROM orc UNION ALL SELECT 'orders.status_accepted', n, v_st FROM orc UNION ALL SELECT 'orders.custkey_fk', n, v FROM fk) SELECT check_name, n_rows, n_violations, n_violations = 0 AS pass FROM allc""")),

    QueryDef("q133_snapshot_diff",
      "CDC snapshot diff (ops.Cdc.snapshotDiff): two deterministic full snapshots derived from orders — old drops keys ending in 3, new drops keys ending in 7, bumps o_totalprice by +1.0 on every 5th key and rewrites o_orderstatus to 'X' on every 20th — diffed into the per-key change set (insert/delete/update with old_/new_ column pairs) a MERGE INTO would apply; unchanged keys are dropped before materialization. ONE full-outer equi-join on the key, change classification a map-side null-safe <=> chain — no window, no subquery, no second pass. The +1.0 mutation (not a multiply-round) keeps the updated values IEEE-deterministic across engines. At 100 TB this is the periodic-full-dump half of CDC — exactly what diffing the reference's consecutive hourly snapshots (main.py:353-359) needs",
      (s, d) => {
        val orders = t(s, d, "orders")
        val oldSnap = orders.filter(col("o_orderkey") % 10 =!= 3)
        val newSnap = orders.filter(col("o_orderkey") % 10 =!= 7)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice")))
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 20 === 0, lit("X"))
              .otherwise(col("o_orderstatus")))
        graft.ops.Cdc.snapshotDiff(oldSnap, newSnap,
          Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus"))
      },
      Some("""WITH olds AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 10 <> 3), news AS (SELECT o_orderkey, CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice, CASE WHEN o_orderkey % 20 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus FROM orders WHERE o_orderkey % 10 <> 7), j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey, CASE WHEN o.o_orderkey IS NULL THEN 'insert' WHEN n.o_orderkey IS NULL THEN 'delete' WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'update' ELSE 'unchanged' END AS change_type, o.o_totalprice AS old_o_totalprice, n.o_totalprice AS new_o_totalprice, o.o_orderstatus AS old_o_orderstatus, n.o_orderstatus AS new_o_orderstatus FROM olds o FULL OUTER JOIN news n ON o.o_orderkey = n.o_orderkey) SELECT * FROM j WHERE change_type <> 'unchanged'""")),

    QueryDef("q134_scd2_merge",
      "INCREMENTAL SCD2 merge (ops.Scd2.merge — the warehouse MERGE INTO q116's batch build lacks): the dimension built from events BEFORE 2024-01-16 folds in the post-cutoff delta WITHOUT re-reading history — each touched user's open interval re-enters the run machinery as ONE weighted seed pseudo-event (valid_from as ts, n_events as weight, run−1 as the per-user run base), so a delta continuing the open run extends it in place and a type change closes it exactly where batch would; closed history and untouched users pass through untouched. The ORACLE IS THE BATCH SQL over the full stream — merge(build(<T), ≥T) must equal build(all) row-for-row, run ids included (WarehouseSpec proves the property on adversarial cases; this row proves it on 100k real events). Every stage keys on user_id = one partitioning; only delta users' rows are rewritten — at 100 TB the difference between appending to a dimension and rebuilding it. Round-11 floor profile (VERDICT r10 #6): ~1.1 s at sf0.1 isolated-quiet = the irreducible DEMO chain — build(<cutoff) pays a full window+agg pass to fabricate the 'existing dimension' that production would read pre-materialized, then merge pays its own seeded window+agg pass; the driver-finish pattern does not apply (the output is the 66k-row dimension, corpus-sized, not a grid), and the two user-keyed passes are the op's honest cost",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
        val dimOld = graft.ops.Scd2.build(ev.filter(col("ts") < cutoff))
        graft.ops.Scd2.merge(dimOld, ev.filter(col("ts") >= cutoff))
      },
      Some("""WITH g AS (SELECT user_id, ts, event_id, event_type, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), m AS (SELECT *, CASE WHEN prev_type IS NULL OR prev_type <> event_type THEN 1 ELSE 0 END AS chg FROM g), r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM m), a AS (SELECT user_id, run, MAX(event_type) AS event_type, MIN(ts) AS vf, CAST(COUNT(*) AS BIGINT) AS n_events FROM r GROUP BY 1, 2) SELECT user_id, CAST(run AS BIGINT) AS run, event_type, epoch_us(vf) AS valid_from_us, lead(epoch_us(vf)) OVER (PARTITION BY user_id ORDER BY run) AS valid_to_us, n_events FROM a""")),

    QueryDef("q135_market_basket",
      "market-basket affinity (association rules over order baskets): per-order DISTINCT brand sets (lineitem⋈part — the dim join AQE broadcasts), same-order brand pairs with brand_a < brand_b, then support / confidence(a→b) / lift from the pair, per-brand, and total order counts. ONE wide shuffle total: the raw join output groups straight into sorted per-order collect_sets (map-side partial; the set IS the dedup — no separate DISTINCT exchange) and pairs explode IN-ROW from each set (q21's posting-list idiom), bounded by basket size squared — never a self-join of the basket table, never an all-pairs stage; downstream everything is |brands|-bounded and broadcasts. Ratios are long-integer inputs through one IEEE division, rounded to 6 dp — deterministic. Support threshold 10 documented as the demo cut",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val part = t(s, d, "part").select(col("p_partkey"), col("p_brand"))
        // materialized once: three branches (pairs, brand support, order
        // total) read the basket table and cross-branch subtree reuse is
        // not guaranteed — without this the collect_set reduce runs 3×
        val sets = li.join(part, col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(array_sort(collect_set(col("p_brand"))).as("bs"))
          .localCheckpoint(true)
        // round 18: pair supports and per-brand supports from ONE fused
        // explode+aggregate pass over the baskets (see basketPairPlane)
        // instead of two separate full passes; counts identical
        val plane = basketPairPlane(sets)
        val pairs = plane.filter(col("brand_b").isNotNull)
          .select(col("brand_a"), col("brand_b"), col("cnt").as("support"))
        val bs = plane.filter(col("brand_b").isNull)
          .select(col("brand_a").as("p_brand"), col("cnt").as("s"))
        val nOrders = sets.agg(lcount(lit(1)).as("n_orders"))
        pairs.filter(col("support") >= 10)
          .join(broadcast(bs.select(col("p_brand").as("brand_a"), col("s").as("sa"))),
                Seq("brand_a"))
          .join(broadcast(bs.select(col("p_brand").as("brand_b"), col("s").as("sb"))),
                Seq("brand_b"))
          .crossJoin(broadcast(nOrders))
          .select(col("brand_a"), col("brand_b"), col("support"),
                  round(col("support") / col("sa"), 6).as("confidence"),
                  round(col("support") * col("n_orders") / (col("sa") * col("sb")), 6)
                    .as("lift"))
      },
      Some("""WITH b AS (SELECT DISTINCT l_orderkey, p_brand FROM lineitem JOIN part ON l_partkey = p_partkey), pr AS (SELECT a.p_brand AS brand_a, b2.p_brand AS brand_b, CAST(count(*) AS BIGINT) AS support FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey AND a.p_brand < b2.p_brand GROUP BY 1, 2), bs AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS s FROM b GROUP BY 1), n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b) SELECT brand_a, brand_b, support, round(support / sa.s, 6) AS confidence, round(support * n_orders / (sa.s * sb.s), 6) AS lift FROM pr JOIN bs sa ON pr.brand_a = sa.p_brand JOIN bs sb ON pr.brand_b = sb.p_brand CROSS JOIN n WHERE support >= 10""")),

    QueryDef("q211_pair_significance",
      "chi-square significance screen over the q135 association pairs - lift measures HOW STRONG a brand affinity looks, this asks whether it is DISTINGUISHABLE FROM INDEPENDENCE at all (the q203 significance-vs-effect-size split applied to market baskets): each (a, b) pair's 2x2 contingency (both / a-only / b-only / neither) comes from the SAME pair-support grid DENSIFIED over the brand cross product (supp = 0 pairs kept: a maximally repelled pair - never co-bought despite large per-brand supports - is the most significant under-representation of all and must not be dropped by the observed-pairs-only scan; at the tested SFs all 300 pairs happen to be observed, so densification is a safety net) plus broadcast brand counts - no new corpus work beyond q135's one wide shuffle - and chi2 = n*(ad-bc)^2 / (sa*(n-sa)*sb*(n-sb)) evaluates in pinned double ops off exact integers (the integer square would pass 1e38 at sf1000, so the square lives in double like q208; every INPUT stays an exact count). Fixed cuts at alpha=0.05 (3.841459) and 0.001 (10.827566). The AGGREGATE readout is the interesting one: the screen fires on 22/300 pairs at sf0.01 but 67/300 at sf0.1 - a rate that GROWS with n is the signature of a real (if tiny) effect, not false positives, and the effect is real: baskets have bounded size, so brands compete for slots and 260/300 pairs are UNDER-represented vs independence (the finite-basket hypergeometric effect). The screen correctly detects it, and the q203 lesson closes the loop - at scale everything is significant, which is why q135's lift (the effect size, ~1.0 here) is the decision quantity",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val part = t(s, d, "part").select(col("p_partkey"), col("p_brand"))
        val sets = li.join(part, col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_orderkey"))
          .agg(array_sort(collect_set(col("p_brand"))).as("bs"))
          .localCheckpoint(true)
        // round 18: pair supports and per-brand supports from ONE fused
        // explode+aggregate pass over the baskets (see basketPairPlane)
        // instead of THREE (the initial plan ran the per-brand aggregate
        // once per grid side); counts identical
        val plane = basketPairPlane(sets)
        val pairs = plane.filter(col("brand_b").isNotNull)
          .select(col("brand_a"), col("brand_b"), col("cnt").as("supp"))
        val bs = plane.filter(col("brand_b").isNull)
          .select(col("brand_a").as("p_brand"), col("cnt").as("s"))
        val nOrders = sets.agg(lcount(lit(1)).as("n"))
        // densified pair grid (ADVICE r10): the co-occurrence pass only emits
        // pairs with supp >= 1, but a MAXIMALLY repelled pair (supp = 0 with
        // large per-brand supports) is the most significant under-representation
        // of all — cross the (tiny, brands²/2) grid and fill supp = 0
        val grid = bs.select(col("p_brand").as("brand_a"), col("s").as("sa"))
          .crossJoin(broadcast(bs.select(col("p_brand").as("brand_b"),
                                         col("s").as("sb"))))
          .filter(col("brand_a") < col("brand_b"))
        val j = grid
          .join(broadcast(pairs), Seq("brand_a", "brand_b"), "left")
          .withColumn("supp", coalesce(col("supp"), lit(0L)))
          .crossJoin(broadcast(nOrders))
        // 2x2 cells as exact integers; ad - bc = n*supp - sa*sb after
        // expansion (the rank-1 identity), kept in that cancelled form
        val num = (col("n") * col("supp") - col("sa") * col("sb")).cast("double")
        val chi2 = col("n").cast("double") * num * num /
          (col("sa").cast("double") * (col("n") - col("sa")).cast("double")
            * col("sb").cast("double") * (col("n") - col("sb")).cast("double"))
        j.select(col("brand_a"), col("brand_b"), col("supp").as("support"),
          (floor(chi2 * lit(1e6) + lit(0.5)) / lit(1e6)).as("chi2"),
          (chi2 > lit(3.841459)).as("sig_05"),
          (chi2 > lit(10.827566)).as("sig_001"))
      },
      Some("""WITH b AS (SELECT DISTINCT l_orderkey, p_brand FROM lineitem JOIN part ON l_partkey = p_partkey), pr AS (SELECT a.p_brand AS brand_a, b2.p_brand AS brand_b, CAST(count(*) AS BIGINT) AS supp FROM b a JOIN b b2 ON a.l_orderkey = b2.l_orderkey AND a.p_brand < b2.p_brand GROUP BY 1, 2), bs AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS s FROM b GROUP BY 1), n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM b), ap AS (SELECT a.p_brand AS brand_a, b2.p_brand AS brand_b, a.s AS sa, b2.s AS sb FROM bs a JOIN bs b2 ON a.p_brand < b2.p_brand), j AS (SELECT ap.brand_a, ap.brand_b, COALESCE(pr.supp, 0) AS supp, sa, sb, n.n FROM ap LEFT JOIN pr ON ap.brand_a = pr.brand_a AND ap.brand_b = pr.brand_b, n), z AS (SELECT brand_a, brand_b, supp, CAST(n AS DOUBLE) * CAST(n * supp - sa * sb AS DOUBLE) * CAST(n * supp - sa * sb AS DOUBLE) / (CAST(sa AS DOUBLE) * CAST(n - sa AS DOUBLE) * CAST(sb AS DOUBLE) * CAST(n - sb AS DOUBLE)) AS chi2 FROM j) SELECT brand_a, brand_b, supp AS support, floor(chi2 * 1e6 + 0.5) / 1e6 AS chi2, chi2 > 3.841459 AS sig_05, chi2 > 10.827566 AS sig_001 FROM z""")),

    QueryDef("q213_concordance_ccc",
      "Lin's concordance correlation coefficient between the order header amount and its lineitem detail rollup - the MEASUREMENT-AGREEMENT number behind q166's reconciliation screen (q166 counts mismatches row by row; CCC asks the method-comparison question 'do the two amount systems agree as measurements', penalizing both scatter AND systematic bias: CCC = 2*sxy/(sxx + syy + (mx-my)^2), always <= Pearson r, equal only at perfect calibration). Both amounts quantize to exact integer cents, the five joint moments (n, Sx, Sy, Sxx, Syy, Sxy) accumulate DECIMAL(38,0)/HUGEINT in ONE aggregate over the one orderkey equi-join (bucket-co-locatable at 100 TB; missing detail = 0 cents, matching q166's all-gap convention), and every derived quantity is a pinned correctly-rounded double chain on those exact integers - the near-total cancellation in sxy (independent header/detail) lands on identical operands in both engines. Honest readout completing q166's story: r = -0.0017, CCC = -0.0016, bias +$38348 at sf0.1 - the fixture's header and detail amounts are INDEPENDENT measurements agreeing not at all (and the header runs systematically high), which q166's 100% mismatch rate said row-wise and CCC now says distribution-wise",
      (s, d) => {
        val D38 = DecimalType(38, 0)
        def h(x: Column) = x.cast(D38)
        val ls = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(h(floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
            .cast("long"))).as("ysum"))
        val j = t(s, d, "orders")
          .join(ls, col("o_orderkey") === col("l_orderkey"), "left")
          .select(
            floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long").as("x"),
            coalesce(col("ysum"), h(lit(0L))).as("y"))
        val m = j.agg(lcount(lit(1)).as("n"),
          sum(h(col("x"))).cast(D38).as("sx"), sum(col("y")).cast(D38).as("sy"),
          sum(h(col("x")) * h(col("x"))).cast(D38).as("sxx"),
          sum(col("y") * col("y")).cast(D38).as("syy"),
          sum(h(col("x")) * col("y")).cast(D38).as("sxy"))
        val nd = col("n").cast("double")
        val mx = col("sx").cast("double") / nd
        val my = col("sy").cast("double") / nd
        val vx = col("sxx").cast("double") / nd - mx * mx
        val vy = col("syy").cast("double") / nd - my * my
        val cv = col("sxy").cast("double") / nd - mx * my
        val r = cv / sqrt(vx * vy)
        val ccc = lit(2.0) * cv / (vx + vy + (mx - my) * (mx - my))
        m.select(col("n"),
          (floor((mx - my) / lit(100.0) * lit(1e4) + lit(0.5)) / lit(1e4)).as("bias_dollars"),
          (floor(r * lit(1e6) + lit(0.5)) / lit(1e6)).as("pearson_r"),
          (floor(ccc * lit(1e6) + lit(0.5)) / lit(1e6)).as("ccc"))
      },
      Some("""WITH ls AS (SELECT l_orderkey, SUM(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS HUGEINT)) AS ysum FROM lineitem GROUP BY 1), j AS (SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS x, COALESCE(ysum, 0) AS y FROM orders LEFT JOIN ls ON o_orderkey = l_orderkey), m AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(CAST(x AS HUGEINT)) AS sx, SUM(y) AS sy, SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(y * y) AS syy, SUM(CAST(x AS HUGEINT) * y) AS sxy FROM j), f AS (SELECT n, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx, CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my, CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS vx, CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS vy, CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cv FROM m) SELECT n, floor((mx - my) / 100.0 * 1e4 + 0.5) / 1e4 AS bias_dollars, floor(cv / sqrt(vx * vy) * 1e6 + 0.5) / 1e6 AS pearson_r, floor(2.0 * cv / (vx + vy + (mx - my) * (mx - my)) * 1e6 + 0.5) / 1e6 AS ccc FROM f""")),

    QueryDef("q136_cohort_retention",
      "cohort retention matrix (the classic product-analytics triangle): customers cohorted by FIRST-order month over orders' 80-month span, activity as the distinct (customer, month) grid, offset = month-index difference (integer year*12+month arithmetic — portable, no interval math), retention = cohort's active customers at each offset / cohort size. ONE customer-keyed shuffle total: each customer's distinct active months collapse to a set (map-side partial), the cohort month and offsets derive IN-ROW (array_min + transform — bounded by months per customer, ≤ the retention span), and the (cohort, offset) rollup is grid-bounded (months², ~6400 rows regardless of volume). Cohort sizes are NOT a second aggregate — a cohort's size IS its offset-0 cell (every member is active in their first month by definition); the grid tail DRIVER-FINISHES (VERDICT r12 #5, the q161/q181/q185 pattern): the months²-bounded grid is collected once and the diagonal lookup is a Scala map, where the old broadcast self-join also re-executed the un-checkpointed grid lineage twice (build + probe sides — two extra corpus-shuffle walks for a 6400-cell join). Retention stays the same Catalyst round(n/n, 6) over the LocalRelation; the offset-0 diagonal (retention 1.0) is kept as the standard sanity row",
      (s, d) => {
        val o = t(s, d, "orders").select(col("o_custkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
        val perCust = o.groupBy(col("o_custkey"))
          .agg(collect_set(col("mi")).as("ms"))
          .select(array_min(col("ms")).as("cmi"),
                  explode(transform(col("ms"), m => m - array_min(col("ms"))))
                    .as("month_offset"))
        // grid tail DRIVER-FINISHED (VERDICT r12 #5, the q161/q181/q185
        // pattern): the corpus pays exactly ONE customer-keyed pass into
        // the months²-bounded (cohort, offset) grid; the diagonal
        // self-join that attached cohort sizes — which also executed the
        // un-checkpointed grid lineage TWICE (broadcast build + probe) —
        // becomes a Scala map lookup on the collected grid. The final
        // make_date/round expressions stay Catalyst, evaluated over the
        // LocalRelation, so the published arithmetic is unchanged.
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val gridRows = perCust.groupBy(col("cmi"), col("month_offset"))
          .agg(lcount(lit(1)).as("n_active"))
          .select(col("cmi").cast("long"), col("month_offset").cast("long"),
                  col("n_active"))
          .collect()
        // calendar-bounded quadratic: 80 months here, 6400 cells; even a
        // 30-year span is 129.6k cells — the cap proves driver residence
        require(gridRows.length <= (1 << 20),
          s"cohort grid ${gridRows.length} exceeds the driver-finish cap")
        val sizeOf = gridRows.filter(_.getLong(1) == 0L)
          .map(r => r.getLong(0) -> r.getLong(2)).toMap
        val local = s.createDataFrame(
          gridRows.toSeq.map(r => Row(r.getLong(0), r.getLong(1),
            r.getLong(2), sizeOf(r.getLong(0)))).asJava,
          StructType(Seq(
            StructField("cmi", LongType, nullable = false),
            StructField("month_offset", LongType, nullable = false),
            StructField("n_active", LongType, nullable = false),
            StructField("cohort_size", LongType, nullable = false))))
        local.select(
          make_date(expr("CAST((cmi - 1) div 12 AS INT)"),
                    expr("CAST((cmi - 1) % 12 + 1 AS INT)"), lit(1))
            .as("cohort_month"),
          col("month_offset"),
          col("n_active"), col("cohort_size"),
          round(col("n_active") / col("cohort_size"), 6).as("retention"))
      },
      Some("""WITH o AS (SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) AS mi FROM orders), activity AS (SELECT DISTINCT o_custkey, mi FROM o), f AS (SELECT o_custkey, MIN(mi) AS cmi FROM activity GROUP BY 1), act AS (SELECT cmi, mi - cmi AS month_offset, CAST(count(*) AS BIGINT) AS n_active FROM activity JOIN f USING (o_custkey) GROUP BY 1, 2), sz AS (SELECT cmi, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY 1) SELECT make_date(CAST((cmi - 1) // 12 AS INT), CAST((cmi - 1) % 12 + 1 AS INT), 1) AS cohort_month, CAST(month_offset AS BIGINT) AS month_offset, n_active, cohort_size, round(n_active / cohort_size, 6) AS retention FROM act JOIN sz USING (cmi)""")),

    QueryDef("q137_rolling_zscore",
      "rolling z-score anomaly detection (the streaming-adjacent monitoring op a metrics pipeline runs on every series): per event_type, each value scored against the TRAILING 96 observations' mean/std (the ROWS 96 PRECEDING .. 1 PRECEDING frame — the current row is EXCLUDED so an outlier cannot mask itself), emitting only |z| > 3 rows after a 48-observation warmup. The trailing sums are NOT computed as sliding-frame aggregates: Spark's WindowExec re-evaluates a moving frame from scratch per row (O(n·k) — measured 3.5 s at sf0.1 for k=96), so the query computes ONE running cumulative sum per metric (incremental, O(n)) and differences it with lag(cum, 1) − lag(cum, k+1) — EXACTLY equal to the frame sum because the accumulator is exact DECIMAL(38,6) (integer-like arithmetic: no cancellation, order-independent; measured 3.46 → 0.66 s at sf0.1, unchanged hashes — the oracle keeps the direct frame formulation as the independent derivation). mean/variance/z are then fixed IEEE expressions over the exact sums, z rounded to 4 dp before the threshold; the event_id tiebreak makes the order total. Scale: one window pass per series; at per-key volumes beyond one partition the ShardedPrefix two-pass recipe (q61b/q68b) shards the same prefix sums by time range with a k-row overlap carry — same algebra, bounded partitions",
      (s, d) => {
        val wc = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val wcum = wc.rowsBetween(Window.unboundedPreceding, 0)
        val zeroD = lit(0).cast(D)
        t(s, d, "events")
          .select(col("event_type"), col("ts"), col("event_id"), col("value"))
          .withColumn("rn", row_number().over(wc))
          .withColumn("c1", sum(col("value").cast(D)).over(wcum))
          .withColumn("c2", sum((col("value") * col("value")).cast(D)).over(wcum))
          .withColumn("n_win", least(col("rn") - 1, lit(96)).cast("long"))
          .withColumn("s1",
            (coalesce(lag(col("c1"), 1).over(wc), zeroD) -
             coalesce(lag(col("c1"), 97).over(wc), zeroD)).cast("double"))
          .withColumn("s2",
            (coalesce(lag(col("c2"), 1).over(wc), zeroD) -
             coalesce(lag(col("c2"), 97).over(wc), zeroD)).cast("double"))
          .filter(col("n_win") >= 48)
          .withColumn("mean", col("s1") / col("n_win"))
          .withColumn("variance",
            (col("s2") - col("s1") * col("s1") / col("n_win")) / (col("n_win") - 1))
          .filter(col("variance") > 0)
          .withColumn("z", round((col("value") - col("mean")) / sqrt(col("variance")), 4))
          .filter(abs(col("z")) > 3)
          .select(col("event_type"), col("event_id"), col("value"),
                  col("n_win"), col("z"))
      },
      Some("""WITH b AS (SELECT event_type, event_id, value, CAST(count(*) OVER w AS BIGINT) AS n_win, CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s1, CAST(SUM(CAST(value * value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s2 FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN 96 PRECEDING AND 1 PRECEDING)), f AS (SELECT *, s1 / n_win AS mean, (s2 - s1 * s1 / n_win) / (n_win - 1) AS variance FROM b WHERE n_win >= 48), z AS (SELECT event_type, event_id, value, n_win, round((value - mean) / sqrt(variance), 4) AS z FROM f WHERE variance > 0) SELECT * FROM z WHERE abs(z) > 3""")),

    QueryDef("q143_incremental_agg",
      "INCREMENTAL AGGREGATE MAINTENANCE from a CDC change feed — the materialized-view half of the warehouse plane (q134 maintains a dimension; this maintains a METRIC): a per-priority (count, exact-decimal revenue) rollup of the old snapshot is folded forward by the q133 diff's signed contributions — delete/update subtract the OLD row from its OLD group, insert/update add the NEW row to its NEW group (a reprioritized order moves between groups correctly) — and the oracle RECOMPUTES FROM SCRATCH over the new snapshot: incremental must equal batch to the bit. That equality is a THEOREM here, not luck: the maintained state is the exact DECIMAL(38,6) sum, and decimal addition is associative/commutative, so old − removed + added is literally the same number batch computes (a double-state rollup could never promise this — the engine-wide exact-sum recipe is what makes aggregates INCREMENTALIZABLE). Scale: only the delta and the group-sized aggregate are touched — the full table is never re-read; groups emptied by the delta drop (n = 0 filter) exactly as batch drops them. Round-10 profiling: the ~1.2s residual was the 3-job chain floor (the diff's full-outer checkpoint job, the old-snapshot rollup, the delta+merge job) at this box's ~0.3-0.4s/job scheduling floor. Round 13 applies the q171 overlap + driver-finish to that floor: the old rollup and the diff grid are independent corpus jobs submitted CONCURRENTLY (the rollup from a future), the diff lineage's only consumer is ONE grid-bounded (change_type, old_g, new_g) aggregate (the corpus-wide diff checkpoint job is gone), and the signed fold runs on the driver in exact java BigDecimal over the ≤ |types|·|priorities|² grid — decimal adds are order-free so the folded state is bit-identical to the old delta/oldAgg join chain, and BigDecimal.doubleValue is the same correctly-rounded conversion as the Decimal→Double cast. 3 serial jobs → 2 concurrent jobs + a LocalTableScan; 1.18 (r13 full-suite) → 0.88 s (targeted rerun, same box) at sf0.1, unchanged hashes at sf0.01+sf0.1. CONTRACT NOTE (ADVICE r13): this builder EXECUTES both jobs eagerly at DataFrame-construction time and returns a LocalTableScan — a plan-inspection caller (Plans explain) sees the materialized result, not the lineage; Bench/Verify are unaffected because the builder runs inside the timed/dumped region",
      (s, d) => {
        import graft.ops.Num.D
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
        val k = col("o_orderkey")
        val orders = t(s, d, "orders")
        val oldS = orders.filter(k % 10 =!= 3)
        val newS = orders.filter(k % 10 =!= 7)
          .withColumn("o_totalprice",
            when(k % 5 === 0, col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
          .withColumn("o_orderpriority",
            when(k % 7 === 0, lit("0-REPRIORITIZED")).otherwise(col("o_orderpriority")))
        // the old-snapshot rollup and the diff grid are independent
        // corpus jobs — submit the rollup from a future so Spark
        // schedules both concurrently (the q171 overlap), while the
        // diff lineage's ONLY consumer is one grid-bounded aggregate
        // (change_type, old group, new group) — the corpus-wide diff
        // checkpoint job is gone
        val fOld = Future { scala.concurrent.blocking {
          oldS.groupBy(col("o_orderpriority").as("g"))
            .agg(count(lit(1)).cast("long").as("n"),
                 sum(col("o_totalprice").cast(D)).as("sd"))
            .collect()
        } }
        // ADVICE r13: if the grid collect throws (e.g. ENOSPC at big
        // SF), the concurrent rollup must not keep running into the
        // next bench query's hygiene/timed window — settle it first
        val diffGrid = try {
          graft.ops.Cdc.snapshotDiff(oldS, newS,
              Seq("o_orderkey"), Seq("o_totalprice", "o_orderpriority"))
            .groupBy(col("change_type"),
                     col("old_o_orderpriority").as("og"),
                     col("new_o_orderpriority").as("ng"))
            .agg(count(lit(1)).as("dn"),
                 sum(col("old_o_totalprice").cast(D)).as("ov"),
                 sum(col("new_o_totalprice").cast(D)).as("nv"))
            .collect()
        } finally {
          try { Await.ready(fOld, Duration.Inf); () }
          catch { case _: Throwable => () }
        }
        val oldRows = Await.result(fOld, Duration.Inf)
        // driver-side signed fold in exact java BigDecimal: decimal
        // addition is associative/commutative and Decimal(38,6) sums
        // collect as scale-6 BigDecimals, so old − removed + added is
        // bit-identical to the old delta/oldAgg join chain; the final
        // double is BigDecimal.doubleValue — the same correctly-rounded
        // conversion as Spark's Decimal→Double cast
        val zero = java.math.BigDecimal.ZERO
        // ADVICE r13: a null decimal SUM over a non-empty group is not
        // an empty-sum case — it is DECIMAL(38,6) overflow under
        // non-ANSI semantics, and coercing it to zero would silently
        // drop the cell's whole contribution. Every grid row has >= 1
        // source row and o_totalprice is non-null, so null ⇒ overflow.
        def reqDec(r: Row, i: Int, what: String): java.math.BigDecimal =
          Option(r.getDecimal(i)).getOrElse(throw new IllegalStateException(
            s"q143: null $what sum over a non-empty cell - DECIMAL(38,6) overflow"))
        val state = scala.collection.mutable.LinkedHashMap.empty[String, (Long, java.math.BigDecimal)]
        oldRows.foreach { r =>
          state(r.getString(0)) = (r.getLong(1), reqDec(r, 2, "old-rollup"))
        }
        def upd(g: String, dn: Long, dv: java.math.BigDecimal): Unit = {
          val (n0, v0) = state.getOrElse(g, (0L, zero))
          state(g) = (n0 + dn, v0.add(dv))
        }
        diffGrid.foreach { r =>
          val ct = r.getString(0)
          val n = r.getLong(3)
          if (ct == "delete" || ct == "update")
            upd(r.getString(1), -n, reqDec(r, 4, "old-value").negate)
          if (ct == "insert" || ct == "update")
            upd(r.getString(2), n, reqDec(r, 5, "new-value"))
        }
        val out = state.toSeq.collect { case (g, (n, v)) if n > 0 =>
          Row(g, n, v.doubleValue) }
        s.createDataFrame(out.asJava, StructType(Seq(
          StructField("o_orderpriority", StringType, nullable = false),
          StructField("n_orders", LongType, nullable = false),
          StructField("total_price", DoubleType, nullable = false))))
      },
      Some("""WITH news AS (SELECT o_orderkey, CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice, CASE WHEN o_orderkey % 7 = 0 THEN '0-REPRIORITIZED' ELSE o_orderpriority END AS o_orderpriority FROM orders WHERE o_orderkey % 10 <> 7) SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_price FROM news GROUP BY 1""")),

    QueryDef("q228_gated_cdc_maintain",
      "GATED CDC metric maintenance with a STREAMING twin (VERDICT r10 #8 - the warehouse plane joins the stream-twin family): q171's stage order (DQ gate upstream of the differ, so quarantined rows surface honestly as deletes) feeding q143's signed-contribution fold, but the fold now runs through streaming.WarehouseStream.signedContributions - the SAME column expression the watermarked stream consumes (StreamingSpec proves base-rollup + streamed delta state equals this batch result at any micro-batch split; the fold is merge-safe because the maintained state is an exact DECIMAL(38,6) sum and decimal addition commutes - the q143 theorem is exactly the property that makes the aggregate INCREMENTALIZABLE under Structured Streaming with zero custom state). Output: the maintained per-priority (n_orders, total_price) table plus the quarantine audit; the oracle recomputes FROM SCRATCH over the gated snapshot - incremental == batch to the bit, now with the gate in the loop. Scale: the stream's state is dimension-sized (one row per priority), the delta fold touches only the change feed, and the full table is never re-read",
      (s, d) => {
        import graft.ops.Num.D
        val k = col("o_orderkey")
        val orders = t(s, d, "orders")
        val oldS = orders.filter(k % 10 =!= 3)
        val raw = orders.filter(k % 10 =!= 7)
          .withColumn("o_totalprice",
            when(k % 13 === 0, -col("o_totalprice"))
              .otherwise(when(k % 5 === 0, col("o_totalprice") + 1.0)
                .otherwise(col("o_totalprice"))))
          .withColumn("o_orderpriority",
            when(k % 7 === 0, lit("0-REPRIORITIZED"))
              .otherwise(col("o_orderpriority")))
        val ok = col("o_totalprice") > 0 &&
          col("o_orderstatus").isin("F", "O", "P")
        val gated = raw.filter(ok)
        val nQuar = raw.filter(!ok).agg(count(lit(1))).head.getLong(0)
        val changes = graft.ops.Cdc.snapshotDiff(oldS, gated,
            Seq("o_orderkey"), Seq("o_totalprice", "o_orderpriority"))
          .select(col("change_type"),
            col("old_o_orderpriority").as("old_g"),
            col("old_o_totalprice").as("old_v"),
            col("new_o_orderpriority").as("new_g"),
            col("new_o_totalprice").as("new_v"))
        val delta = graft.streaming.WarehouseStream.signedContributions(changes)
          .groupBy(col("g")).agg(sum(col("dn")).as("dn"), sum(col("dv")).as("dv"))
        val oldAgg = oldS.groupBy(col("o_orderpriority").as("g"))
          .agg(count(lit(1)).cast("long").as("n"),
               sum(col("o_totalprice").cast(D)).as("sd"))
        oldAgg.join(delta, Seq("g"), "full_outer")
          .select(col("g").as("o_orderpriority"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .cast("long").as("n_orders"),
            (coalesce(col("sd"), lit(0).cast(D)) + coalesce(col("dv"), lit(0).cast(D)))
              .cast("double").as("total_price"))
          .filter(col("n_orders") > 0)
          .withColumn("n_quarantined", lit(nQuar))
      },
      Some("""WITH raw AS (SELECT o_orderkey, o_orderstatus, CASE WHEN o_orderkey % 13 = 0 THEN -o_totalprice WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice, CASE WHEN o_orderkey % 7 = 0 THEN '0-REPRIORITIZED' ELSE o_orderpriority END AS o_orderpriority FROM orders WHERE o_orderkey % 10 <> 7), gated AS (SELECT * FROM raw WHERE o_totalprice > 0 AND o_orderstatus IN ('F','O','P')), quar AS (SELECT CAST(count(*) AS BIGINT) AS n_quarantined FROM raw WHERE NOT (o_totalprice > 0 AND o_orderstatus IN ('F','O','P'))) SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS total_price, quar.n_quarantined FROM gated, quar GROUP BY o_orderpriority, quar.n_quarantined""")),

    QueryDef("q180_fifo_matching",
      "FIFO lot matching — cost-basis / inventory-consumption allocation, the warehouse op everyone writes as a sequential queue and then can't scale: per user, inflow events (signup/click/view, quantity = value) build lots in time order, purchases consume them oldest-first, output = every (purchase, lot) match with its consumed quantity and holding time. The engine form is the DECLARATIVE one: FIFO allocation is EXACTLY interval overlap on the two cumulative-quantity axes — lot i occupies [cum_in_before, cum_in_after) of the user's inflow axis, purchase o consumes [cum_out_before, cum_out_after) of the same axis, matched qty = overlap length — so the whole operator is two per-user prefix-sum windows + ONE user-keyed equi-join with a range post-filter. No queue, no fold, no per-row state: the q145-family sequential shape turns out NOT to need tier-(d) mapPartitions because prefix sums linearize it (the ShardedPrefix insight applied to matching). Determinism: quantities floor to the 6-dp grid ONCE, every cumsum/endpoint/overlap stays exact DECIMAL(38,6) until the final cast — with one cross-engine trap found by the hash gate: DuckDB's least/greatest SILENTLY promote DECIMAL operands to DOUBLE (measured 2e-13 drift on 3274 rows), so the oracle writes the endpoint min/max as CASE comparisons, which stay decimal. Scale: two user-keyed window passes + one co-keyed join; per-user match count is n_in + n_out - 1 at most (FIFO intervals are consecutive), so output is linear in the corpus; the join's range filter evaluates streamed per user — never a materialized per-user cross product",
      (s, d) => {
        val ev = t(s, d, "events").select(col("user_id"), col("ts"),
          col("event_id"), col("event_type"), col("value"))
        graft.ops.Fifo.matchLots(
            ev.filter(col("event_type").isin("signup", "click", "view")),
            ev.filter(col("event_type") === "purchase"),
            "user_id", "ts", "event_id", "value")
          .select(col("user_id"), col("out_id").as("out_event"),
            col("in_id").as("in_event"), col("matched_qty"),
            (unix_micros(col("out_ts")) - unix_micros(col("in_ts")))
              .as("hold_us"))
      },
      Some("""WITH e AS (SELECT user_id, ts, event_id, event_type, CAST(floor(value * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6)) AS qty FROM events), i AS (SELECT user_id, event_id AS in_event, ts AS in_ts, SUM(qty) OVER w - qty AS in_lo, SUM(qty) OVER w AS in_hi FROM e WHERE event_type IN ('signup','click','view') WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)), o AS (SELECT user_id, event_id AS out_event, ts AS out_ts, SUM(qty) OVER w - qty AS out_lo, SUM(qty) OVER w AS out_hi FROM e WHERE event_type = 'purchase' WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)) SELECT i.user_id, out_event, in_event, CAST((CASE WHEN in_hi < out_hi THEN in_hi ELSE out_hi END) - (CASE WHEN in_lo > out_lo THEN in_lo ELSE out_lo END) AS DOUBLE) AS matched_qty, epoch_us(out_ts) - epoch_us(in_ts) AS hold_us FROM i JOIN o ON i.user_id = o.user_id AND in_lo < out_hi AND out_lo < in_hi""")),

    QueryDef("q202_item_similarity",
      "item-item collaborative filtering (the recommender complement of q135's association rules): top-5 nearest-neighbor brands per brand by BINARY-INCIDENCE COSINE over customer purchase vectors - cos(a,b) = |customers with both| / sqrt(|with a| * |with b|) - the classic item-based CF score (Sarwar et al. 2001 shape; q135 measures rule DIRECTION via confidence/lift, this measures symmetric vector proximity, and the two genuinely rank pairs differently). Same scale skeleton as q135 lifted from order to CUSTOMER granularity: one customer-keyed exchange collapses each customer's distinct brand set IN the aggregate (the set is the dedup), pairs explode in-row bounded by set-size squared (<=|brands|=25 per customer here; at part granularity the same plan holds with basket-sized sets), never a self-join of the incidence table. The per-item incidence counts FUSE into the same explode pass via a sentinel marker row per anchor element (VERDICT r11 #5: one pass + one aggregate now yields both the co-occurrence grid and the counts — the old separate cnt pass over the incidence sets, and both corpus-width checkpoints, are gone), so the corpus pays the incidence exchange plus ONE explode-aggregate and everything downstream is the <=brands^2+brands grid. The per-item ranking rides the bounded-heap TopKPerKey operator (map-side k-reduction - no grid window, and at partkey granularity no corpus window either); cosine ranks on the ROUNDED 6-dp value with the neighbor-name tiebreak, so the cut is engine-identical. Integer counts through one sqrt and one division",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val part = t(s, d, "part").select(col("p_partkey"), col("p_brand"))
        // customer x brand incidence, one exchange. NOT checkpointed:
        // the sentinel fusion below leaves it exactly one consumer
        val sets = li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(part, col("l_partkey") === col("p_partkey"))
          .groupBy(col("o_custkey"))
          .agg(array_sort(collect_set(col("p_brand"))).as("bs"))
        // SENTINEL FUSION (VERDICT r11 #5): each anchor element emits
        // its tail pairs PLUS one (a, "") marker row, so the pair
        // co-occurrence grid and the per-item incidence counts come out
        // of ONE explode pass + ONE aggregate — the separate cnt pass
        // over sets (and with it both corpus-width checkpoints) is
        // gone; everything downstream is the <=brands^2+brands grid.
        // "" is not a brand value, so the marker can't collide.
        val grid = sets
          .select(posexplode(col("bs")).as(Seq("i", "a")), col("bs"))
          .select(col("a"),
            explode(concat(array(lit("")),
              slice(col("bs"), col("i") + lit(2),
                    greatest(size(col("bs")) - col("i") - 1, lit(0)))))
              .as("b"))
          .groupBy(col("a"), col("b")).agg(lcount(lit(1)).as("co"))
          .localCheckpoint(true) // grid-sized; 3 readers below
        val co = grid.filter(col("b") =!= "")
        val sym = co.unionByName(
          co.select(col("b").as("a"), col("a").as("b"), col("co")))
        val cnt = grid.filter(col("b") === "")
          .select(col("a"), col("co").as("na"))
        val scored = sym
          .join(broadcast(cnt), Seq("a"))
          .join(broadcast(cnt.select(col("a").as("b"), col("na").as("nb"))),
                Seq("b"))
          .select(col("a").as("brand"), col("b").as("neighbor"),
                  col("co").as("co_count"),
                  round(col("co") / sqrt(col("na").cast("double") * col("nb")), 6)
                    .as("cosine"))
        graft.plans.TopK.perKey(scored, Seq(col("brand")),
          Seq(col("cosine").desc, col("neighbor")), 5)
      },
      Some("""WITH b AS (SELECT DISTINCT o_custkey, p_brand FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN part ON l_partkey = p_partkey), co AS (SELECT x.p_brand AS a, y.p_brand AS b, CAST(count(*) AS BIGINT) AS co FROM b x JOIN b y ON x.o_custkey = y.o_custkey AND x.p_brand < y.p_brand GROUP BY 1, 2), sym AS (SELECT a, b, co FROM co UNION ALL SELECT b, a, co FROM co), cnt AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1), sc AS (SELECT sym.a AS brand, sym.b AS neighbor, co AS co_count, round(co / sqrt(CAST(ca.n AS DOUBLE) * cb.n), 6) AS cosine FROM sym JOIN cnt ca ON sym.a = ca.p_brand JOIN cnt cb ON sym.b = cb.p_brand), r AS (SELECT *, row_number() OVER (PARTITION BY brand ORDER BY cosine DESC, neighbor) AS rk FROM sc) SELECT brand, neighbor, co_count, cosine FROM r WHERE rk <= 5"""))
  )
}
