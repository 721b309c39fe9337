package graft

import graft.ops.LabelProp
import org.apache.spark.sql.functions.col

class LabelPropSpec extends SparkSpec {
  import spark.implicits._

  /** Runs BOTH strategies (round 14: long ids take the adaptive driver
    * loop; maxDriverEdges = 0 forces the distributed supersteps),
    * asserts they agree exactly, and returns the result — every
    * behavioral test in this suite doubles as a twin-equality pin. */
  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val drv = LabelProp.run(edges.toDF("src", "dst"), iters)
      .as[(Long, Long)].collect().toMap
    val dist = LabelProp.run(edges.toDF("src", "dst"), iters,
        maxDriverEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(drv == dist, "driver and distributed label propagation diverged")
    drv
  }

  /** In-memory reference: the op's exact contract (neighbours + self,
    * max count, min-label ties), as straight-line Scala. */
  private def naive(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lbl = adj.map { case (v, ns) =>
        val votes = (ns.map(lbl) :+ lbl(v)).groupBy(identity)
          .view.mapValues(_.size).toSeq
        v -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  describe("LabelProp.run") {
    it("resolves two triangles joined by a bridge into their own communities") {
      // 1-2-3 triangle, 4-5-6 triangle, bridge 3-4: each triangle's
      // majority beats the single bridge vote
      val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      val out = run(g, 3)
      assert(Set(out(1L), out(2L), out(3L)).size == 1)
      assert(Set(out(4L), out(5L), out(6L)).size == 1)
      assert(out(1L) != out(4L))
    }
    it("does not oscillate on a bipartite 4-cycle (the self-vote case)") {
      // pure sync LPA 2-cycles on C4; with the self-vote the run is
      // stable: iteration 2 and 3 agree
      val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      assert(run(c4, 2) == run(c4, 3))
    }
    it("matches the naive reference on a deterministic pseudo-random graph") {
      val nodes = 1L to 30L
      val edges = (for {
        a <- nodes; b <- nodes if a < b
        if (a * 31 + b * 17) % 7 == 0
      } yield (a, b)).toSeq
      for (it <- 1 to 3)
        assert(run(edges, it) == naive(edges, it), s"iters=$it")
    }
    it("matches the naive reference on a sparse ring-of-cliques graph") {
      // three K4 cliques chained by single bridges — communities with
      // genuine structure plus tie-heavy bridge vertices
      def k4(off: Long) = for (a <- 0L to 3L; b <- (a + 1) to 3L)
        yield (off + a, off + b)
      val edges = (k4(0) ++ k4(10) ++ k4(20)).toSeq ++
        Seq((3L, 10L), (13L, 20L))
      for (it <- 1 to 4)
        assert(run(edges, it) == naive(edges, it), s"iters=$it")
    }
    it("drops null-id edges on both paths: equal to the graph without them") {
      val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      val withNull = (clean.map { case (a, b) => (Option(a), Option(b)) } ++
        Seq((Some(3L), None), (None, Some(5L)))).toDF("src", "dst")
      def lp(cap: Long) = LabelProp.run(withNull, 2, maxDriverEdges = cap)
        .as[(Long, Long)].collect().toMap
      val expected = run(clean, 2)
      assert(lp(4L * 1024 * 1024) == expected) // driver twin
      assert(lp(0L) == expected)               // distributed supersteps
    }
    it("(int, long) id columns take the distributed path with the all-long values") {
      // a driver twin would cast labels back to int and wrap `big`
      val big = 5000000000L
      val edges = Seq((1L, 2L), (2L, big), (1L, big), (3L, big), (3L, 4L))
      val mixed = edges.toDF("src", "dst")
        .select(col("src").cast("int").as("src"), col("dst"))
      val got = LabelProp.run(mixed, 2).as[(Long, Long)].collect().toMap
      assert(got == run(edges, 2))
    }
  }
}
