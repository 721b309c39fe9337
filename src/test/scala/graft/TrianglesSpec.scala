package graft

import graft.ops.Triangles

class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def census(edges: Seq[(Long, Long)], maxBroadcast: Long = 2000000L) =
    Triangles.census(edges.toDF("u", "v"), maxBroadcast)
      .as[(Long, Long, Long, Double)].collect().head

  describe("Triangles.census") {
    it("counts the single triangle of K3 with clustering 1.0") {
      assert(census(Seq((1L, 2L), (2L, 3L), (1L, 3L))) == ((3L, 3L, 1L, 1.0)))
    }
    it("K4 has 4 triangles and clustering 1.0") {
      val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
      assert(census(k4) == ((4L, 6L, 4L, 1.0)))
    }
    it("a path graph has zero triangles and zero clustering") {
      assert(census(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == ((4L, 3L, 0L, 0.0)))
    }
    it("a star plus one rim edge: exactly one triangle regardless of hub degree") {
      // hub 1 connected to 2..8; single rim edge (2,3) -> one triangle.
      // The hub is exactly the case degree ordering protects: its edges
      // all point INTO it, so no wedge ever enumerates the hub's pairs.
      val star = (2L to 8L).map(r => (1L, r)) :+ ((2L, 3L))
      val (n, m, t, _) = census(star)
      assert((n, m, t) == ((8L, 8L, 1L)))
    }
    it("is orientation-correct: each triangle counted exactly once on a dense-ish graph") {
      // deterministic pseudo-random graph; reference count by brute force
      val nodes = 1L to 24L
      val edges = (for {
        a <- nodes; b <- nodes if a < b
        if (a * 31 + b * 17) % 5 == 0
      } yield (a, b)).toSeq
      val es = edges.toSet
      val expected = (for {
        a <- nodes; b <- nodes if a < b; c <- nodes if b < c
        if es((a, b)) && es((b, c)) && es((a, c))
      } yield 1).size.toLong
      assert(census(edges)._3 == expected)
    }
    it("broadcast and shuffle-join paths agree (the adaptive-bound twin)") {
      // maxDriverEdges = 0 on both arms: this test pins the two
      // DISTRIBUTED join strategies against each other (the driver
      // twin would otherwise take both since round 17)
      val edges = (for {
        a <- 1L to 30L; b <- (a + 1) to 30L if (a * 13 + b * 7) % 4 == 0
      } yield (a, b)).toSeq
      def dist(maxBroadcast: Long) =
        Triangles.census(edges.toDF("u", "v"), maxBroadcast,
            maxDriverEdges = 0L)
          .as[(Long, Long, Long, Double)].collect().head
      assert(dist(2000000L) == dist(0L))
    }
    it("driver twin ≡ distributed census, bit-exact (round-17 cap)") {
      // dense-ish pseudo-random graph; the driver CSR loop and the BSP
      // plan must agree on every field including the rounded double
      val edges = (for {
        a <- 1L to 60L; b <- (a + 1) to 60L if (a * 31 + b * 17) % 4 == 0
      } yield (a, b)).toSeq
      val drv = census(edges) // under the 4M cap -> driver twin
      val dst = Triangles.census(edges.toDF("u", "v"), maxDriverEdges = 0L)
        .as[(Long, Long, Long, Double)].collect().head
      assert(drv == dst)
    }
    it("driver twin handles duplicate edge occurrences like the distributed plan") {
      // a duplicated edge inflates degree/wedge counts and the edge
      // iterator (per occurrence) in BOTH paths; adjacency dedups
      val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 2L))
      val drv = census(edges)
      val dst = Triangles.census(edges.toDF("u", "v"), maxDriverEdges = 0L)
        .as[(Long, Long, Long, Double)].collect().head
      assert(drv == dst)
    }
    it("driver twin on the empty graph matches the distributed nulls") {
      val e = Seq.empty[(Long, Long)].toDF("u", "v")
      val drv = Triangles.census(e)
        .as[(Long, Long, Long, Option[Double])].collect().head
      val dst = Triangles.census(e, maxDriverEdges = 0L)
        .as[(Long, Long, Long, Option[Double])].collect().head
      assert(drv == ((0L, 0L, 0L, None)))
      assert(drv == dst)
    }
  }

  describe("Triangles.perNode") {
    it("hand-computes local coefficients on K3 plus a pendant node") {
      // triangle 1-2-3 plus pendant edge 3-4: node 3 has deg 3, 1
      // triangle -> cc = 2/6; nodes 1,2 have deg 2, 1 triangle -> 1.0;
      // node 4 deg 1 -> NULL cc, 0 triangles
      val out = Triangles.perNode(
          Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("u", "v"))
        .as[(Long, Long, Long, Option[Double])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(out(1L) == ((2L, 1L, Some(1.0))))
      assert(out(2L) == ((2L, 1L, Some(1.0))))
      assert(out(3L) == ((3L, 1L, Some(0.333333))))
      assert(out(4L) == ((1L, 0L, None)))
    }
    it("per-node counts sum to 3x the census count on a dense graph") {
      val edges = (for {
        a <- 1L to 24L; b <- (a + 1) to 24L if (a * 31 + b * 17) % 5 == 0
      } yield (a, b)).toSeq
      val total = census(edges)._3
      val perNodeSum = Triangles.perNode(edges.toDF("u", "v"))
        .as[(Long, Long, Long, Option[Double])].collect().map(_._3).sum
      assert(perNodeSum == 3 * total)
    }
    it("driver twin ≡ distributed perNode, bit-exact on every row (round-17 cap)") {
      val edges = (for {
        a <- 1L to 60L; b <- (a + 1) to 60L if (a * 31 + b * 17) % 4 == 0
      } yield (a, b)).toSeq
      def rows(cap: Long) =
        Triangles.perNode(edges.toDF("u", "v"), maxDriverEdges = cap)
          .as[(Long, Long, Long, Option[Double])].collect()
          .sortBy(_._1).toSeq
      assert(rows(cap = 4L * 1024 * 1024) == rows(cap = 0L))
    }
    it("driver twin keeps int id columns int (cast-back contract)") {
      val e = Seq((1, 2), (2, 3), (1, 3)).toDF("u", "v")
      val out = Triangles.perNode(e)
      assert(out.schema("v").dataType ==
        org.apache.spark.sql.types.IntegerType)
      assert(out.as[(Int, Long, Long, Option[Double])].collect()
        .forall(_._3 == 1L))
    }
    it("drops null-id edges on both paths: equal to the graph without them") {
      val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      val withNull = (clean.map { case (a, b) => (Option(a), Option(b)) } ++
        Seq((Some(3L), None), (None, Some(5L)))).toDF("u", "v")
      def cen(cap: Long) = Triangles.census(withNull, maxDriverEdges = cap)
        .as[(Long, Long, Long, Double)].collect().head
      def per(df: org.apache.spark.sql.DataFrame, cap: Long) =
        Triangles.perNode(df, maxDriverEdges = cap)
          .as[(Long, Long, Long, Option[Double])].collect().toSet
      for (cap <- Seq(4L * 1024 * 1024, 0L)) { // driver twin, distributed
        assert(cen(cap) == census(clean), s"census cap=$cap")
        assert(per(withNull, cap) == per(clean.toDF("u", "v"), 0L), s"perNode cap=$cap")
      }
    }
    it("(int, long) id columns take the distributed path with the all-long values") {
      // a driver twin would cast v back to int and wrap `big`
      val big = 5000000000L
      val edges = Seq((1L, 2L), (2L, big), (1L, big), (3L, big), (3L, 4L))
      val mixed = edges.toDF("u", "v")
        .select($"u".cast("int").as("u"), $"v")
      def per(df: org.apache.spark.sql.DataFrame) = Triangles.perNode(df)
        .as[(Long, Long, Long, Option[Double])].collect().toSet
      assert(per(mixed) == per(edges.toDF("u", "v")))
      assert(Triangles.census(mixed).as[(Long, Long, Long, Double)].collect().head ==
        census(edges))
    }
  }
}
