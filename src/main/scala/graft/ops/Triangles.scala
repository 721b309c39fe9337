package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Degree-ordered triangle census — the graph-clustering signal
  * (community strength, spam/bot ring detection in link graphs) and the
  * third member of the graph plane with connected components
  * ([[graft.ext.Dedup.dedupGroups]]) and PageRank ([[PageRank]]).
  *
  * Algorithm: orient every undirected edge from its (degree, id)-
  * smaller endpoint to the larger (Schank–Wagner) — a total acyclic
  * order, so each triangle a<b<c is counted EXACTLY ONCE, at its edge
  * a→b — then count by the EDGE-ITERATOR formulation: triangles =
  * Σ over oriented edges |N⁺(src) ∩ N⁺(dst)|. The per-row set
  * intersection replaces the wedge-materialization formulation (every
  * out-neighbor pair exploded, then joined against the closing edge):
  * the wedge stream is Σ outdeg² rows — 41M on the sf0.1 co-purchase
  * graph, measured 4.4 s even with the closing join broadcast — while
  * the intersection form touches each EDGE once carrying two bounded
  * adjacency arrays (out-degrees are O(√m) under the degree
  * orientation, 97 max on the same graph; measured 4.4 → ~1 s).
  *
  * Plan shape: degrees = one aggregate; orientation = two joins of the
  * edge list against the degree table; adjacency = one collect_set per
  * source; count = two joins edge⨝adjacency + a map-side
  * array_intersect + one scalar sum. The degree and adjacency tables
  * are node-sized — broadcast ADAPTIVELY from materialized counts (the
  * dedupGroups probe pattern; both are localCheckpoint'd so the probe
  * is metadata-cheap) with keyed shuffle-join fallback above the bound
  * — the honest billion-node plan, every stage keyed on vertex ids.
  */
object Triangles {

  /** Shared distributed core over the already-materialized edge frame
    * `e`: the degree table and the edge⨝adjacency frame carrying both
    * endpoints' out-neighbor arrays (na, nb) — the triangles of edge
    * (src, dst) are exactly the members of na ∩ nb. */
  private def core(e: DataFrame, maxBroadcastRows: Long)
      : (DataFrame, DataFrame) = {
    val deg = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).cast("long").as("deg"))
      .localCheckpoint(true)
    def adapt(df: DataFrame, n: Long): DataFrame =
      if (n <= maxBroadcastRows) broadcast(df) else df
    val degB = adapt(deg, deg.count())
    val withDeg = e
      .join(degB.select(col("x").as("u"), col("deg").as("du")), Seq("u"))
      .join(degB.select(col("x").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"))
      .localCheckpoint(true)
    val adj = oriented.groupBy(col("src"))
      .agg(collect_set(col("dst")).as("ns"))
      .localCheckpoint(true)
    val adjB = adapt(adj, adj.count())
    val edgeTriangles = oriented
      .join(adjB.select(col("src"), col("ns").as("na")), Seq("src"))
      .join(adjB.select(col("src").as("dst"), col("ns").as("nb")), Seq("dst"))
    (deg, edgeTriangles)
  }

  /** Final census projection, shared by the distributed and driver
    * paths so the float readout is the SAME Catalyst expression over
    * the same integer inputs — bit-identical by construction. Input
    * frame: (n_nodes, n_edges, n_triangles, wedges). */
  private def censusSelect(df: DataFrame): DataFrame =
    df.select(col("n_nodes"), col("n_edges"), col("n_triangles"),
      round(lit(3.0) * col("n_triangles") / col("wedges"), 6)
        .as("global_clustering"))

  /** Final per-node projection, shared by both paths. Input frame:
    * (x, deg, t — nullable triangle count). */
  private def perNodeSelect(df: DataFrame): DataFrame =
    df.select(col("x").as("v"), col("deg"),
      coalesce(col("t"), lit(0L)).as("n_triangles"),
      when(col("deg") > 1,
        round(lit(2.0) * coalesce(col("t"), lit(0L)) /
              (col("deg") * (col("deg") - 1)), 6)).as("local_cc"))

  /** Census of the undirected simple graph `edges` (cols u, v; each
    * edge once, u ≠ v). Returns ONE row: (n_nodes, n_edges,
    * n_triangles, global_clustering = 3·triangles/wedges, 6 dp). */
  def census(edges: DataFrame,
             maxBroadcastRows: Long = 2L * 1000 * 1000,
             maxDriverEdges: Long = DriverGraph.MaxDriverEdges): DataFrame = {
    val e = DriverGraph.edges(edges, "u", "v")
    if (DriverGraph.fits(e, maxDriverEdges)) return censusLocal(e)
    val (deg, edgeTriangles) = core(e, maxBroadcastRows)
    val tri = edgeTriangles
      .select(size(array_intersect(col("na"), col("nb"))).as("k"))
      .agg(coalesce(sum(col("k")), lit(0L)).cast("long").as("n_triangles"))
    val wedges = deg.agg(
      sum(expr("deg * (deg - 1) div 2")).cast("long").as("wedges"),
      count(lit(1)).cast("long").as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).cast("long").as("n_edges"))
    censusSelect(wedges.crossJoin(broadcast(nEdges)).crossJoin(broadcast(tri)))
  }

  /** Per-node triangle participation and local clustering coefficient
    * (Watts–Strogatz): (v, deg, n_triangles, local_cc) for EVERY node,
    * local_cc = 2·t/(deg·(deg−1)) at 6 dp, NULL for degree-1 nodes.
    * Each triangle found on its (src, dst) edge explodes to its three
    * corners — 3 rows per triangle, never wedge-sized — and the corner
    * counts aggregate by node. The per-node form is the spam/bot-ring
    * feature (hubs with near-zero clustering vs dense rings at 1.0);
    * the global census is its weighted average. */
  def perNode(edges: DataFrame,
              maxBroadcastRows: Long = 2L * 1000 * 1000,
              maxDriverEdges: Long = DriverGraph.MaxDriverEdges): DataFrame = {
    val e = DriverGraph.edges(edges, "u", "v")
    if (DriverGraph.fits(e, maxDriverEdges)) return perNodeLocal(e)
    val (deg, edgeTriangles) = core(e, maxBroadcastRows)
    val corners = edgeTriangles
      .select(col("src"), col("dst"),
        explode(array_intersect(col("na"), col("nb"))).as("w"))
      .select(explode(array(col("src"), col("dst"), col("w"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).cast("long").as("t"))
    perNodeSelect(deg.join(corners, Seq("x"), "left"))
  }

  // ------------------------------------------------------------------
  // Driver twin: the identical algorithm over a primitive CSR, taken at
  // or under the [[DriverGraph]] cap in place of the ~20-job
  // distributed chain, which at sf0.1 is pure serial job floor. All
  // driver arithmetic is INTEGER (degrees, intersection counts); the
  // float readouts go through the shared censusSelect/perNodeSelect
  // projections, so driver ≡ distributed is bit-exact (TrianglesSpec
  // pins both paths against each other).
  // ------------------------------------------------------------------

  /** Collected graph ([[DriverGraph.Graph]]: nodes in first-seen order,
    * edge-OCCURRENCE degrees like the distributed union aggregate) plus
    * per-node triangle counts from the degree-oriented edge-iterator
    * intersection — the same count the distributed na ∩ nb computes,
    * because the oriented adjacency is DEDUPLICATED per source
    * (collect_set semantics) while edges iterate per occurrence (the
    * oriented frame joins every row). */
  private final case class LocalGraph(g: DriverGraph.Graph, tri: Array[Long],
                                      totalTriangles: Long)

  private def buildLocal(e: DataFrame): LocalGraph = {
    val g = DriverGraph.collect(e)
    val (n, m, nodes, deg) = (g.n, g.m, g.nodes, g.deg)
    // degree orientation: src = (deg, id)-smaller endpoint — identical
    // predicate to the distributed uFirst column
    val srcA = new Array[Int](m)
    val dstA = new Array[Int](m)
    var i = 0
    while (i < m) {
      val a = g.src(i); val b = g.dst(i)
      val aFirst = deg(a) < deg(b) ||
        (deg(a) == deg(b) && nodes(a) < nodes(b))
      if (aFirst) { srcA(i) = a; dstA(i) = b } else { srcA(i) = b; dstA(i) = a }
      i += 1
    }
    // CSR out-adjacency, then per-source sort + dedup (collect_set)
    val outc = new Array[Int](n)
    i = 0
    while (i < m) { outc(srcA(i)) += 1; i += 1 }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + outc(i); i += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    val nbr = new Array[Int](m)
    i = 0
    while (i < m) { nbr(fill(srcA(i))) = dstA(i); fill(srcA(i)) += 1; i += 1 }
    // The per-node sort/dedup and the edge-iterator intersections are
    // the driver twin's only O(m·√m) work — parallelized over a
    // bounded pool (disjoint node ranges for the sorts; per-thread
    // accumulator arrays merged at the end for the counts, so the
    // result is the same integer sums in any schedule). Single-threaded
    // this loop measured ~2 s on the 1.2M-edge sf0.1 graph — the
    // serial tail the twin exists to delete.
    val nThreads = math.max(1,
      math.min(16, Runtime.getRuntime.availableProcessors - 2))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val end = new Array[Int](n) // effective end after in-place dedup
    try {
      val sortTasks = (0 until nThreads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            var v = (n.toLong * t / nThreads).toInt
            val vEnd = (n.toLong * (t + 1) / nThreads).toInt
            while (v < vEnd) {
              java.util.Arrays.sort(nbr, off(v), off(v + 1))
              var w = off(v)
              var r = off(v)
              while (r < off(v + 1)) {
                if (w == off(v) || nbr(r) != nbr(w - 1)) { nbr(w) = nbr(r); w += 1 }
                r += 1
              }
              end(v) = w
              v += 1
            }
          }
        })
      }
      sortTasks.foreach(_.get())
      // edge-iterator: per edge OCCURRENCE, merge-intersect the two
      // sorted unique out-neighbor slices; every common w is a triangle
      // corner (src, dst, w get one count each)
      val triLocal = Array.fill(nThreads)(new Array[Long](n))
      val totLocal = new Array[Long](nThreads)
      val triTasks = (0 until nThreads).map { t =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val tri = triLocal(t)
            var i = (m.toLong * t / nThreads).toInt
            val iEnd = (m.toLong * (t + 1) / nThreads).toInt
            var total = 0L
            while (i < iEnd) {
              val s = srcA(i); val d = dstA(i)
              var p = off(s); val pe = end(s)
              var q = off(d); val qe = end(d)
              var c = 0L
              while (p < pe && q < qe) {
                val x = nbr(p); val y = nbr(q)
                if (x == y) { tri(x) += 1; c += 1; p += 1; q += 1 }
                else if (x < y) p += 1
                else q += 1
              }
              tri(s) += c; tri(d) += c; total += c
              i += 1
            }
            totLocal(t) = total
          }
        })
      }
      triTasks.foreach(_.get())
      val tri = new Array[Long](n)
      var t = 0
      while (t < nThreads) {
        val local = triLocal(t)
        var v = 0
        while (v < n) { tri(v) += local(v); v += 1 }
        t += 1
      }
      LocalGraph(g, tri, totLocal.sum)
    } finally pool.shutdown()
  }

  /** One-row census LocalRelation with the integer fields; the float
    * readout goes through the SAME shared projection as the
    * distributed path. `wedges` is null iff the graph is empty —
    * matching the distributed sum-over-zero-rows. */
  private def censusLocal(e: DataFrame): DataFrame = {
    val LocalGraph(g, _, totalTriangles) = buildLocal(e)
    val wedges = g.deg.iterator.map(d => d.toLong * (d - 1) / 2).sum
    censusSelect(DriverGraph.relation(e, "n_nodes BIGINT NOT NULL, " +
        "n_edges BIGINT NOT NULL, n_triangles BIGINT NOT NULL, wedges BIGINT", 1) {
      _ => Row(g.n.toLong, g.m.toLong, totalTriangles,
               if (g.n == 0) null else java.lang.Long.valueOf(wedges))
    })
  }

  /** Per-node LocalRelation (x, deg, t) cast back to the source id
    * type, through the shared projection. */
  private def perNodeLocal(e: DataFrame): DataFrame = {
    val LocalGraph(g, tri, _) = buildLocal(e)
    perNodeSelect(DriverGraph.relation(e,
        "x BIGINT NOT NULL, deg BIGINT NOT NULL, t BIGINT", g.n, "x") {
      j => Row(g.nodes(j), g.deg(j).toLong, tri(j))
    })
  }
}
