package graft

import graft.ops.{KmvSketch, PageRank}
import org.apache.spark.sql.functions._

class SetGraphSpec extends SparkSpec {
  import spark.implicits._

  describe("KMV distinct sketch") {
    it("is exact (sketch = full hash set) when the group has fewer than k members") {
      val df = (1 to 40).map(i => ("g", i)).toDF("grp", "v")
      val sk = KmvSketch.sketch(df, col("grp"), col("v"), 64, 7)
      assert(sk.count() == 40)
      val est = sk.groupBy($"g")
        .agg(count(lit(1)).as("sz"), max($"h").as("mk"))
        .select(KmvSketch.estimate($"sz", $"mk", 64).as("e"))
        .as[Double].head()
      assert(est == 40.0)
    }

    it("estimates within 4 standard errors on a 5000-member set at k=64") {
      val df = (1 to 5000).map(i => ("g", i)).toDF("grp", "v")
      val sk = KmvSketch.sketch(df, col("grp"), col("v"), 64, 7)
      assert(sk.count() == 64)
      val est = sk.groupBy($"g")
        .agg(count(lit(1)).as("sz"), max($"h").as("mk"))
        .select(KmvSketch.estimate($"sz", $"mk", 64).as("e"))
        .as[Double].head()
      // stderr ≈ n/sqrt(k-2) ≈ 635; a fixed hash either passes forever
      // or fails forever — this pins the estimator arithmetic, the
      // accuracy claim itself is q126's measured rel_err column
      assert(math.abs(est - 5000.0) < 4 * 5000.0 / math.sqrt(62.0), s"est=$est")
    }

    it("is mergeable: k smallest of two sketch unions = sketch of the set union") {
      val a = (1 to 300).map(i => ("a", i)).toDF("grp", "v")
      val b = (200 to 500).map(i => ("b", i)).toDF("grp", "v")
      val skA = KmvSketch.sketch(a, col("grp"), col("v"), 32, 7).select($"h")
      val skB = KmvSketch.sketch(b, col("grp"), col("v"), 32, 7).select($"h")
      val merged = skA.union(skB).distinct()
        .orderBy($"h").limit(32).as[Long].collect().toSet
      val direct = KmvSketch.sketch(
          a.union(b).withColumn("grp", lit("u")), col("grp"), col("v"), 32, 7)
        .select($"h").as[Long].collect().toSet
      assert(merged == direct)
    }

    it("dedups before sketching: duplicate members never occupy two slots") {
      val df = Seq.fill(100)(("g", 1)).toDF("grp", "v")
      val sk = KmvSketch.sketch(df, col("grp"), col("v"), 8, 7)
      assert(sk.count() == 1)
    }
  }

  describe("KMV aggregate (kmv_build)") {
    import graft.functions.KmvFns

    it("equals the k smallest distinct hashes, duplicates and partitioning ignored") {
      val rows = (1 to 500).map(i => ("g", (i % 150).toLong * 7919)) // dups by construction
      val expect = rows.map(_._2).distinct.sorted.take(32)
      Seq(1, 7).foreach { parts =>
        val got = rows.toDF("grp", "h").repartition(parts)
          .groupBy($"grp").agg(KmvFns.kmvBuild($"h", 32).as("sk"))
          .select($"sk").as[Seq[Long]].head()
        assert(got == expect)
      }
    }

    it("aggregate path produces the same (size, kth) sketch stats as the TopK operator path") {
      val df = (1 to 3000).map(i => (s"g${i % 3}", i)).toDF("grp", "v")
      val hashed = df.select($"grp".as("g"),
        graft.functions.TextFunctions.portableHash($"v".cast("string"), 7).as("h"))
      val viaAgg = hashed.groupBy($"g").agg(KmvFns.kmvBuild($"h", 64).as("sk"))
        .select($"g", size($"sk"), element_at($"sk", 64))
        .as[(String, Int, Long)].collect().toSet
      val viaTopK = KmvSketch.sketchHashed(hashed.distinct())(64)
        .groupBy($"g").agg(count(lit(1)).cast("int").as("sz"), max($"h").as("mk"))
        .as[(String, Int, Long)].collect().toSet
      assert(viaAgg == viaTopK)
    }

    it("kmvEstimate is exact below k and matches the operator-path estimator above it") {
      val hashed = (1 to 40).map(i => ("s", i)).toDF("grp", "v")
        .select($"grp".as("g"),
          graft.functions.TextFunctions.portableHash($"v".cast("string"), 7).as("h"))
      val small = hashed.groupBy($"g").agg(KmvFns.kmvBuild($"h", 64).as("sk"))
        .select(KmvFns.kmvEstimate($"sk", 64)).as[Double].head()
      assert(small == 40.0)
    }
  }

  describe("fixed-iteration PageRank") {
    it("conserves rank mass (sums to ~1) and favors the hub of a star graph") {
      val edges = (1 to 20).map(i => ("hub", s"leaf$i")).toDF("src", "dst")
      val pr = PageRank.run(edges, 3)
      val ranks = pr.select($"v", $"pr").as[(String, Double)].collect().toMap
      assert(math.abs(ranks.values.sum - 1.0) < 1e-6)
      assert(ranks("hub") > ranks("leaf1") * 5)
      (1 to 20).foreach(i => assert(ranks(s"leaf$i") == ranks("leaf1")))
    }

    it("matches a driver-side reference implementation with the same rounding") {
      val es = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"))
      val got = PageRank.run(es.toDF("src", "dst"), 3)
        .select($"v", $"pr").as[(String, Double)].collect().toMap

      val und = es ++ es.map(_.swap)
      val deg = und.groupBy(_._1).map { case (v, e) => v -> e.size.toLong }
      val n = deg.size
      def r10(x: Double) = math.floor(x * 1e10 + 0.5) / 1e10
      var r = deg.keys.map(v => v -> 1.0 / n).toMap
      for (_ <- 1 to 3) {
        val contribs = und.groupBy(_._2).map { case (dst, in) =>
          // exact decimal sum of 10-dp-rounded terms == plain sum here
          dst -> in.map { case (src, _) => BigDecimal(r10(r(src) / deg(src))) }.sum.toDouble
        }
        r = deg.keys.map(v => v -> r10(0.15 / n + 0.85 * contribs.getOrElse(v, 0.0))).toMap
      }
      assert(got == r)
    }

    it("broadcast-ranks and shuffle-join supersteps are bit-equal") {
      val edges = (1 to 400).map(i => (s"s${i % 23}", s"p${i % 61}")).toDF("src", "dst")
      val bc = PageRank.run(edges, 3, broadcastRanks = true)
        .select($"v", $"pr").as[(String, Double)].collect().toMap
      val sh = PageRank.run(edges, 3, broadcastRanks = false)
        .select($"v", $"pr").as[(String, Double)].collect().toMap
      assert(bc == sh)
    }

    it("is invariant under input partitioning") {
      val edges = (1 to 500).map(i => (s"s${i % 40}", s"p${i % 97}")).toDF("src", "dst")
      val one = PageRank.run(edges.repartition(1), 2)
        .select($"v", $"pr").as[(String, Double)].collect().toMap
      val many = PageRank.run(edges.repartition(13), 2)
        .select($"v", $"pr").as[(String, Double)].collect().toMap
      assert(one == many)
    }

    it("the adaptive driver loop is bit-equal to the distributed BSP on integral-id graphs") {
      // long ids → the driver twin takes over under the edge cap;
      // forcing the cap to 0 runs the distributed supersteps on the
      // same graph — every (deg, pr) must match to the bit, including
      // the decimal-grid contribution sums (round 14)
      val edges = (1 to 400).map(i => ((i % 23).toLong * 2, (i % 61).toLong * 2 + 1))
        .toDF("src", "dst")
      val drv = PageRank.run(edges, 3)
        .as[(Long, Long, Double)].collect().toSet
      val dst = PageRank.run(edges, 3, maxDriverEdges = 0L)
        .as[(Long, Long, Double)].collect().toSet
      assert(drv == dst)
    }

    it("drops null-id edges on both paths: equal to the graph without them") {
      val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      val withNull = (clean.map { case (a, b) => (Option(a), Option(b)) } ++
        Seq((Some(3L), None), (None, Some(5L)))).toDF("src", "dst")
      def pr(df: org.apache.spark.sql.DataFrame, cap: Long) =
        PageRank.run(df, 3, maxDriverEdges = cap)
          .as[(Long, Long, Double)].collect().toSet
      val expected = pr(clean.toDF("src", "dst"), 0L)
      assert(pr(withNull, 4L * 1024 * 1024) == expected) // driver twin
      assert(pr(withNull, 0L) == expected)               // distributed BSP
    }

    it("(int, long) id columns take the distributed path with the all-long values") {
      // a driver twin would cast v back to int and wrap `big`
      val big = 5000000000L
      val edges = Seq((1L, 2L), (2L, big), (1L, big), (3L, big), (3L, 4L))
      val mixed = edges.toDF("src", "dst")
        .select($"src".cast("int").as("src"), $"dst")
      val got = PageRank.run(mixed, 3).as[(Long, Long, Double)].collect().toSet
      assert(got == PageRank.run(edges.toDF("src", "dst"), 3)
        .as[(Long, Long, Double)].collect().toSet)
    }
  }
}
