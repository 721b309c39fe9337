package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fixed-iteration PageRank over an undirected edge list — the
  * link-graph quality signal crawl-curation pipelines attach to
  * documents (page authority as a corpus-quality feature; the same
  * role host-level PageRank plays in CommonCrawl-derived datasets).
  *
  * Execution model: Pregel-style BSP unrolled into the declarative
  * plan. Each superstep is ONE equi-join (edges ⨝ ranks on src) plus
  * ONE aggregation (contributions by dst) — both hash-shuffle on
  * vertex ids, so on a cluster the edge table is shuffled onto its
  * join key once per step (or zero times once bucketed by src, the
  * [[graft.sinks.ReportSink.writeBucketed]] layout). Rank state is
  * vertex-sized, localCheckpoint'd per step so the lineage (and the
  * re-execution cost of a lost executor) stays one superstep deep —
  * the cluster twin is `Dataset.checkpoint` on a reliable store.
  *
  * Portability: the per-edge contribution r(src)/deg(src) is
  * floor-rounded to 10 dp, summed as exact DECIMAL(38,12) (order
  * independent — identical under any partitioning, AQE re-plan, or
  * per-engine aggregation order), and the damped update
  * 0.15/N + 0.85·S is re-rounded to 10 dp: every arithmetic step is
  * either exact decimal or a single IEEE double op, so three unrolled
  * iterations stay bit-identical between Spark and the DuckDB oracle
  * (the q63 surprisal recipe, applied iteratively).
  */
object PageRank {

  /** Runs `iters` damped (d = 0.85) PageRank steps over the undirected
    * graph given by `edges` (cols `src`, `dst`; callers pass each
    * undirected edge once — both directions are added here). Returns
    * (v, deg, pr) for every vertex.
    *
    * `broadcastRanks = true` ships the vertex-state table to every
    * executor each superstep, turning the edge-side lookup into a
    * map-side broadcast join: the edge table is NEVER shuffled for the
    * lookup, leaving one exchange per superstep (the contribution
    * aggregation). Correct choice whenever vertex state fits a
    * broadcast (tens of millions of vertices — ~24 bytes each); for
    * billion-vertex graphs pass `false` and the superstep becomes the
    * src-keyed shuffle join (ship edges to their bucketed layout
    * first and even that exchange disappears). Both paths are
    * property-tested bit-equal — same recipe as
    * [[graft.ops.Quantiles]]' driver/distributed twin.
    *
    * `checkpoint = false` keeps the full unrolled lineage in one plan —
    * only for plan-shape tests (PlanSpec pins the superstep join
    * strategy, which a checkpointed plan would hide behind LogicalRDD
    * leaves); production runs always checkpoint per superstep. */
  def run(edges: DataFrame, iters: Int, checkpoint: Boolean = true,
          broadcastRanks: Boolean = true,
          maxDriverEdges: Long = DriverGraph.MaxDriverEdges): DataFrame = {
    def cp(df: DataFrame): DataFrame = if (checkpoint) df.localCheckpoint(true) else df
    def hint(df: DataFrame): DataFrame = if (broadcastRanks) broadcast(df) else df
    // A graph under the driver-edge cap runs the identical arithmetic as
    // a driver loop over primitive arrays ([[DriverGraph]]) — one
    // collect instead of (2 jobs + a checkpoint) × iters of grid-sized
    // BSP stages, which at sf0.1 are pure scheduling floor. Exactness
    // holds step for step: contributions take the same double
    // floor-grid, per-vertex sums accumulate the same DECIMAL(38,12)
    // values as scaled longs (each term is the shortest-decimal
    // rendering of its double, HALF_UP at scale 12 — Spark's own
    // double→Decimal cast), and the damped update replays the identical
    // IEEE expression order, so driver ≡ distributed to the bit
    // (SetGraphSpec pins it). Plan-shape tests (checkpoint = false) and
    // the broadcastRanks = false shuffle-join twin skip the probe and
    // stay fully distributed (billion-vertex graphs exceed the cap
    // anyway); only the probing path materializes the edges.
    val adaptive = checkpoint && broadcastRanks
    val e0 = DriverGraph.edges(edges, "src", "dst", checkpoint = adaptive)
    if (adaptive && DriverGraph.fits(e0, maxDriverEdges)) return runDriver(e0, iters)
    val ed = cp(e0.select(col("src"), col("dst"))
      .union(e0.select(col("dst").as("src"), col("src").as("dst"))))
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).cast("long").as("deg"))
      .select(col("src").as("v"), col("deg"))
    val nDf = deg.agg(count(lit(1)).cast("long").as("nv"))
    val base = cp(deg.crossJoin(broadcast(nDf)))

    var ranks = base.select(col("v"), col("deg"), col("nv"),
      (lit(1.0) / col("nv").cast("double")).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = ed.join(hint(ranks), ed("src") === ranks("v"))
        .select(col("dst"),
          (floor(col("pr") / col("deg").cast("double") * 1e10 + 0.5) / 1e10).as("c"))
      val sums = contrib.groupBy(col("dst"))
        .agg(sum(col("c").cast(DecimalType(38, 12))).cast("double").as("s"))
      ranks = base.join(hint(sums), base("v") === sums("dst"), "left")
        .select(base("v"), col("deg"), col("nv"),
          (floor((lit(0.15) / col("nv").cast("double") +
                  lit(0.85) * coalesce(col("s"), lit(0.0))) * 1e10 + 0.5) / 1e10).as("pr"))
      ranks = cp(ranks)
    }
    ranks.select(col("v"), col("deg"), col("pr"))
  }

  /** Driver twin of the BSP loop for bounded graphs: the collected
    * CSR, per-step arithmetic replicated bit-for-bit (see run()). */
  private def runDriver(edges: DataFrame, iters: Int): DataFrame = {
    val g = DriverGraph.collect(edges)
    val (n, deg, off, nbr) = (g.n, g.deg, g.off, g.nbr)
    val nv = n.toLong
    var pr = Array.fill(n)(1.0 / nv.toDouble)
    var it = 0
    while (it < iters) {
      // per-dst sums of the 10-dp-floored contributions, accumulated as
      // the DECIMAL(38,12) values Spark's double→Decimal cast produces:
      // shortest-decimal rendering of the double, HALF_UP to scale 12,
      // summed as unscaled longs (≤ 1e12 per term — exact, order-free)
      val sums = new Array[Long](n)
      var u = 0
      while (u < n) {
        val c = math.floor(pr(u) / deg(u).toDouble * 1e10 + 0.5) / 1e10
        val unscaled = java.math.BigDecimal.valueOf(c)
          .setScale(12, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
        var p = off(u)
        while (p < off(u + 1)) { sums(nbr(p)) += unscaled; p += 1 }
        u += 1
      }
      val next = new Array[Double](n)
      var v = 0
      while (v < n) {
        val s = java.math.BigDecimal.valueOf(sums(v), 12).doubleValue
        next(v) = math.floor((0.15 / nv.toDouble + 0.85 * s) * 1e10 + 0.5) / 1e10
        v += 1
      }
      pr = next
      it += 1
    }
    val last = pr // a val: capturing the var would box it for the whole loop
    DriverGraph.relation(edges,
        "v BIGINT NOT NULL, deg BIGINT NOT NULL, pr DOUBLE NOT NULL", n, "v") {
      j => Row(g.nodes(j), deg(j).toLong, last(j))
    }
  }
}
