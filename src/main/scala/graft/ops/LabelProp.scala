package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Synchronous label propagation for community detection (Raghavan
  * 2007), fixed-iteration and fully deterministic — the COMMUNITY verb
  * of the graph plane next to components (union-find, `ext.Dedup`),
  * authority ([[PageRank]]), cohesion ([[Triangles]]) and distance
  * (BFS hops, q184).
  *
  * Semantics per superstep: every vertex simultaneously adopts the
  * label most frequent among its neighbours AND ITSELF, ties broken by
  * the smallest label. The self-vote is load-bearing, not cosmetic:
  * pure synchronous LPA famously oscillates 2-cycles on bipartite
  * graphs (every part flips to the other part's majority each step);
  * counting the vertex's own current label once damps the flip and
  * lets stable regions freeze. Initial label = the vertex id, so the
  * final labels are canonical (smallest-dominating-id) without any
  * random seed — reruns and re-partitions produce identical
  * communities.
  *
  * Scale shape (mirrors [[PageRank.run]]): the undirected edge table
  * materializes once ([[org.apache.spark.sql.Dataset#localCheckpoint]])
  * and each superstep pays ONE neighbour-label equi-join (AQE
  * broadcasts the label side while it is small; billion-vertex graphs
  * fall back to the src-keyed shuffle join) plus ONE (v, lbl) count
  * aggregate. The argmax is `min(struct(-count, label))` — a plain
  * aggregate with map-side partial combine — never a per-vertex
  * row_number window (a hub's vote list stays distributed). Label
  * state is checkpointed per step: one-superstep lineage, the q128
  * lesson that a fused multi-step plan pays more in codegen depth than
  * it saves in jobs.
  *
  * All arithmetic is integer (counts, ids): no float recursion, so
  * the fixed-iteration output is bit-stable across engines by
  * construction.
  */
object LabelProp {

  /** Runs `iters` synchronous supersteps over the undirected graph
    * given as one-direction edges (src, dst); returns (v, lbl).
    *
    * A graph under `maxDriverEdges` runs the identical integer vote loop
    * on the driver over a CSR adjacency ([[DriverGraph]]) — one collect
    * instead of (join + two aggregates + checkpoint) × iters of
    * grid-sized BSP stages, which at sf0.1 are pure scheduling floor.
    * All arithmetic is integer, so driver ≡ distributed is exact by
    * construction (LabelPropSpec pins both paths against the naive
    * reference); above the cap the distributed supersteps run. */
  def run(edges: DataFrame, iters: Int,
          maxDriverEdges: Long = DriverGraph.MaxDriverEdges): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e0 = DriverGraph.edges(edges, "src", "dst")
    if (DriverGraph.fits(e0, maxDriverEdges)) return runDriver(e0, iters)
    val e = e0.select(col("src").as("a"), col("dst").as("b"))
      .union(e0.select(col("dst").as("a"), col("src").as("b")))
      .localCheckpoint(true)
    var labels = e.select(col("a").as("v")).distinct()
      .withColumn("lbl", col("v"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val nbr = e.join(labels, e("b") === labels("v"))
        .select(e("a").as("v"), col("lbl"))
      labels = nbr.union(labels) // the self-vote
        .groupBy(col("v"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("v"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("v"), col("m.l").as("lbl"))
        .localCheckpoint(true)
    }
    labels
  }

  /** Driver twin of the superstep loop for bounded graphs: the same
    * vote — most frequent label among neighbours AND itself, ties to
    * the smallest label — over the collected CSR. */
  private def runDriver(edges: DataFrame, iters: Int): DataFrame = {
    val g = DriverGraph.collect(edges)
    val (n, nodes, off, nbr) = (g.n, g.nodes, g.off, g.nbr)
    // labels live in INDEX space (every label is a node id, so it has
    // an index); votes tally in a flat array reset via a touched list,
    // so the O(m·iters) hot loop neither boxes nor rehashes. The argmax
    // tie-break compares the LABEL VALUES nodes(l), exactly
    // min(struct(-c, lbl)).
    var lbl = Array.tabulate(n)(identity)
    val cnt = new Array[Long](n)
    val touched = new Array[Int](n)
    var it = 0
    while (it < iters) {
      val next = new Array[Int](n)
      var v = 0
      while (v < n) {
        var nt = 0
        def vote(l: Int): Unit = {
          if (cnt(l) == 0L) { touched(nt) = l; nt += 1 }
          cnt(l) += 1L
        }
        vote(lbl(v)) // the self-vote
        var p = off(v)
        while (p < off(v + 1)) { vote(lbl(nbr(p))); p += 1 }
        var bestC = -1L; var bestL = -1
        var t = 0
        while (t < nt) {
          val l = touched(t); val c = cnt(l)
          if (c > bestC || (c == bestC &&
              (bestL < 0 || nodes(l) < nodes(bestL)))) { bestC = c; bestL = l }
          t += 1
        }
        // reset only the touched cells
        t = 0
        while (t < nt) { cnt(touched(t)) = 0L; t += 1 }
        next(v) = bestL
        v += 1
      }
      lbl = next
      it += 1
    }
    val last = lbl // a val: capturing the var would box it for the whole loop
    DriverGraph.relation(edges, "v BIGINT NOT NULL, lbl BIGINT NOT NULL",
        n, "v", "lbl") { j => Row(nodes(j), nodes(last(j))) }
  }
}
