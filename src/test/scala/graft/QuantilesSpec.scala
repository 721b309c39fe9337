package graft

import graft.ops.Quantiles
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  private def forAllSamples[A](gen: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  describe("two-pass histogram exact quantiles") {
    it("matches Spark's buffering percentile aggregate exactly on generated corpora") {
      val gen = Gen.listOfN(300, for {
        g <- Gen.oneOf("a", "b")
        v <- Gen.choose(-100000, 100000).map(_ / 7.0)
      } yield (g, v))
      forAllSamples(gen) { rows =>
        val df = rows.toDF("g", "v")
        // compare at 6 dp: the order statistics are bit-identical, but
        // the final a + d*(b-a) interpolation differs from Spark's in
        // the last ulp (~1e-13 relative) — which is why every consumer
        // (q41, q119) rounds percentile outputs before hashing
        val got = Quantiles.exactQuantiles(df, "g", "v", Seq(0.25, 0.5, 0.75, 0.9),
                                           buckets = 16)
          .select($"g", $"p", round($"value", 6).as("value"))
          .as[(String, Double, Double)].collect().toSet
        val want = Seq(0.25, 0.5, 0.75, 0.9).flatMap { p =>
          df.groupBy($"g").agg(expr(s"percentile(v, $p)").as("value"))
            .select($"g", lit(p).as("p"), round($"value", 6).as("value"))
            .as[(String, Double, Double)].collect()
        }.toSet
        assert(got == want)
      }
    }
    it("handles constant groups, single-row groups, and p in {0, 1}") {
      val df = Seq(("c", 5.0), ("c", 5.0), ("c", 5.0), ("s", 42.0),
                   ("m", 1.0), ("m", 2.0)).toDF("g", "v")
      val out = Quantiles.exactQuantiles(df, "g", "v", Seq(0.0, 0.5, 1.0),
                                         buckets = 4)
        .select($"g", $"p", $"value").as[(String, Double, Double)]
        .collect().toSet
      assert(out == Set(
        ("c", 0.0, 5.0), ("c", 0.5, 5.0), ("c", 1.0, 5.0),
        ("s", 0.0, 42.0), ("s", 0.5, 42.0), ("s", 1.0, 42.0),
        ("m", 0.0, 1.0), ("m", 0.5, 1.5), ("m", 1.0, 2.0)))
    }
    it("tie-heavy discrete columns rank by distinct value, matching percentile exactly") {
      // 100k rows over 7 distinct values: any row-ranking pass-2 would
      // put ~14k rows in one window partition; value-ranking holds 7
      val df = spark.range(100000).select(
        lit("d").as("g"), ((col("id") * 31) % 7).cast("double").as("v"))
      val got = Quantiles.exactQuantiles(df, "g", "v", Seq(0.1, 0.5, 0.9),
                                         buckets = 8)
        .select($"p", $"value").as[(Double, Double)].collect().toMap
      val want = Seq(0.1, 0.5, 0.9).map { p =>
        p -> df.agg(expr(s"percentile(v, $p)")).as[Double].head()
      }.toMap
      assert(got == want)
    }
    it("int and long ranges wider than their type match percentile on both paths") {
      // v − mn in the column's own type would overflow (ANSI raises):
      // 1,000 values near −2e9 and +2e9 in one group, then the same
      // values scaled onto ±8e18 as longs
      val rnd = new scala.util.Random(5)
      val ints = Seq.fill(1000)(
        if (rnd.nextBoolean()) -2000000000 + rnd.nextInt(1000)
        else 2000000000 - rnd.nextInt(1000))
      val ps = Seq(0.1, 0.5, 0.9)
      def check(df: DataFrame): Unit = {
        val want = ps.flatMap(p =>
          df.groupBy($"g").agg(expr(s"percentile(v, $p)"))
            .as[(String, Double)].collect().map { case (g, v) => (g, p) -> v }).toMap
        Seq(Quantiles.MaxDriverGroups, 0).foreach { cap =>
          val got = Quantiles.exactQuantiles(df, "g", "v", ps, maxDriverGroups = cap)
            .select($"g", $"p", $"value").as[(String, Double, Double)].collect()
            .map { case (g, p, v) => (g, p) -> v }.toMap
          assert(got == want, s"maxDriverGroups = $cap")
        }
      }
      check(ints.map(v => ("a", v)).toDF("g", "v"))
      check(ints.map(v => ("a", v.toLong * 4000000000L)).toDF("g", "v"))
      // a range below buckets × Double.MinPositiveValue: a bucket width
      // of (mx − mn) / buckets would round to 0.0
      check(Seq(("a", 0.0), ("a", Double.MinPositiveValue),
                ("b", 1.0), ("b", 2.0), ("b", 4.0)).toDF("g", "v"))
    }
    it("a null group key is a group on both paths, as in percentile") {
      val df = Seq((null: String, 1.0), (null: String, 3.0), ("a", 2.0)).toDF("g", "v")
      val ps = Seq(0.25, 0.5)
      val want = ps.flatMap(p =>
        df.groupBy($"g").agg(expr(s"percentile(v, $p)"))
          .as[(String, Double)].collect().map { case (g, v) => (g, p, v) }).toSet
      assert(want.map(_._1) == Set(null, "a"))
      val counts = df.groupBy($"g", $"v").agg(count(lit(1)).as("c"))
      Seq(Quantiles.MaxDriverGroups, 0).foreach { cap =>
        Seq(Quantiles.exactQuantiles(df, "g", "v", ps, maxDriverGroups = cap),
            Quantiles.exactQuantilesFromCounts(counts, "g", "v", "c", ps,
              maxDriverGroups = cap)).foreach { out =>
          assert(out.select($"g", $"p", $"value").as[(String, Double, Double)]
            .collect().toSet == want, s"maxDriverGroups = $cap")
        }
      }
    }
    it("exactQuantilesFromCounts equals the corpus path on generated data") {
      val gen = Gen.listOfN(400, for {
        g <- Gen.oneOf("a", "b", "c")
        v <- Gen.choose(0, 50).map(_ / 3.0) // deliberately tie-heavy
      } yield (g, v))
      forAllSamples(gen) { rows =>
        val df = rows.toDF("g", "v")
        val vc = df.groupBy($"g", $"v").agg(count(lit(1)).as("c"))
        val fromRows = Quantiles.exactQuantiles(df, "g", "v",
            Seq(0.1, 0.5, 0.9), buckets = 8)
          .select($"g", $"p", $"value").as[(String, Double, Double)]
          .collect().toSet
        val fromCounts = Quantiles.exactQuantilesFromCounts(vc, "g", "v", "c",
            Seq(0.1, 0.5, 0.9), buckets = 8)
          .select($"g", $"p", $"value").as[(String, Double, Double)]
          .collect().toSet
        // bit-exact, no rounding: both paths pick identical order
        // statistics and share the interpolation expression
        assert(fromRows == fromCounts)
      }
    }
    it("integer WEIGHTS as counts equal quantiles over the row-expanded multiset (q206)") {
      // the weighted-quantile semantics claim, pinned independently of
      // the fixtures: a counts frame whose cntCol is a per-row integer
      // WEIGHT must land bit-identical to exactQuantiles over the
      // physically expanded multiset (each row repeated weight times)
      val gen = Gen.listOfN(120, for {
        g <- Gen.oneOf("a", "b")
        v <- Gen.choose(0, 40).map(_ / 4.0) // tie-heavy values
        w <- Gen.choose(1, 9)               // integer weights
      } yield (g, v, w))
      forAllSamples(gen, n = 6) { rows =>
        val vc = rows.toDF("g", "v", "w")
          .groupBy($"g", $"v").agg(sum($"w").as("c"))
        val expanded = rows.flatMap { case (g, v, w) => Seq.fill(w)((g, v)) }
          .toDF("g", "v")
        val weighted = Quantiles.exactQuantilesFromCounts(vc, "g", "v", "c",
            Seq(0.25, 0.5, 0.9), buckets = 8)
          .select($"g", $"p", $"value").as[(String, Double, Double)]
          .collect().toSet
        val brute = Quantiles.exactQuantiles(expanded, "g", "v",
            Seq(0.25, 0.5, 0.9), buckets = 8)
          .select($"g", $"p", $"value").as[(String, Double, Double)]
          .collect().toSet
        assert(weighted == brute)
      }
    }

    it("interpolates exactly like DuckDB's continuous interpolator") {
      // hand-computed: [10, 20, 40] at p=0.25 → k=0.5, lo=10, hi=20 →
      // 10·0.5 + 20·0.5 = 15; p=0.75 → k=1.5 → 20·0.5 + 40·0.5 = 30
      val df = Seq(("x", 10.0), ("x", 20.0), ("x", 40.0)).toDF("g", "v")
      val out = Quantiles.exactQuantiles(df, "g", "v", Seq(0.25, 0.75), buckets = 4)
        .select($"p", $"value").as[(Double, Double)].collect().toMap
      assert(out == Map(0.25 -> 15.0, 0.75 -> 30.0))
    }
    it("the distributed fallback equals the driver-planned path bit-for-bit") {
      val gen = Gen.listOfN(300, for {
        g <- Gen.oneOf("a", "b")
        v <- Gen.choose(-50000, 50000).map(_ / 11.0)
      } yield (g, v))
      forAllSamples(gen) { rows =>
        val df = rows.toDF("g", "v")
        val planned = Quantiles.exactQuantiles(df, "g", "v", Seq(0.25, 0.5, 0.9))
          .select($"g", $"p", $"value").as[(String, Double, Double)].collect().toSet
        // maxDriverGroups = 0 forces the fully distributed chain
        val distributed = Quantiles.exactQuantiles(df, "g", "v", Seq(0.25, 0.5, 0.9),
            maxDriverGroups = 0)
          .select($"g", $"p", $"value").as[(String, Double, Double)].collect().toSet
        assert(planned == distributed)
      }
    }
    it("bit-replicate quantiles equal the exploded exactQuantiles chain (q196)") {
      // the BRR shape: group -1 = full frame, group r = rows whose hash
      // bit r is set. The bitmask-histogram fast path must land
      // bit-identical to physically exploding the (r, v) frame and
      // running the shared refinement core — including integer-k ranks,
      // tie-heavy values, and replicates straddling bucket boundaries.
      val gen = Gen.listOfN(500, for {
        h <- Gen.choose(0L, (1L << 60) - 1)
        v <- Gen.choose(0, 200).map(_ / 3.0) // ties + interpolation
      } yield (h, v))
      forAllSamples(gen, n = 6) { rows =>
        val df = rows.toDF("h", "v")
        val bits = 12
        val fast = Quantiles.exactQuantileBitReplicates(df, "h", "v",
            bits = bits, p = 0.5, buckets = 16)
          .select($"r", $"p", $"value").as[(Long, Double, Double)]
          .collect().toSet
        val exploded = df
          .select(explode(sequence(lit(-1), lit(bits - 1))).as("r"), $"h", $"v")
          .filter($"r" === -1 || expr("(shiftright(h, r) & 1) = 1"))
          .select($"r".cast("long").as("r"), $"v")
        val want = Quantiles.exactQuantiles(exploded, "r", "v", Seq(0.5),
            buckets = 16)
          .select($"r", $"p", $"value").as[(Long, Double, Double)]
          .collect().toSet
        assert(fast == want)
      }
    }
    it("bit-replicate quantiles: non-double values route to the exploded fallback") {
      // long values must not round-trip through the driver's double
      // ranking — the method falls back to the distributed chain and
      // still answers exactly
      val df = spark.range(2000).select(
        (col("id") * 2654435761L % (1L << 60)).as("h"),
        (col("id") % 97).as("v")) // LongType
      val got = Quantiles.exactQuantileBitReplicates(df, "h", "v",
          bits = 8, p = 0.5, buckets = 16)
        .select($"r", $"value").as[(Long, Double)].collect().toMap
      (-1 until 8).foreach { r =>
        val vals = df.filter(lit(r) === -1 ||
            expr(s"(shiftright(h, $r) & 1) = 1"))
          .select($"v".cast("double")).as[Double].collect().sorted
        val k = 0.5 * (vals.length - 1)
        val fl = math.floor(k); val ce = math.ceil(k)
        val want = if (fl == ce) vals(k.toInt)
                   else vals(fl.toInt) * (ce - k) + vals(ce.toInt) * (k - fl)
        assert(got(r.toLong) == want, s"replicate $r")
      }
    }
    it("DoubleBits is order-preserving on non-negative doubles (the trio's foundation)") {
      // the theorem all three bit-bucket operators rest on: for
      // non-negative finite doubles, raw-bits-as-signed-long comparison
      // IS numeric comparison — checked across 20 orders of magnitude,
      // zeros, subnormals, and the codegen path vs the JVM intrinsic
      val rnd = new scala.util.Random(3)
      val vals = (Seq.fill(2000)(
          rnd.nextDouble() * math.pow(10, rnd.nextInt(20) - 10)) ++
        Seq(0.0, Double.MinPositiveValue, 1e-310, 1.0, 1e300,
            Double.MaxValue)).distinct
      val bits = vals.map(Tuple1(_)).toDF("v")
        .select($"v", graft.functions.DoubleBits.bits($"v").as("b"))
        .as[(Double, Long)].collect()
      bits.foreach { case (v, b) =>
        assert(b == java.lang.Double.doubleToRawLongBits(v), s"bits of $v")
      }
      bits.sortBy(_._1).sliding(2).foreach {
        case Array((v1, b1), (v2, b2)) =>
          assert((v1 < v2) == (b1 < b2) && b1 <= b2,
            s"order broken: $v1($b1) vs $v2($b2)")
        case _ => ()
      }
    }
    it("nonNegScalarQuantiles ≡ exactQuantiles bit-for-bit (ties, zeros, subnormals, n=1)") {
      // the bit-bucket path must reproduce the equal-width path's
      // doubles EXACTLY — same fetched order statistics, same
      // interpolation arithmetic — across tie-heavy, continuous,
      // subnormal, and degenerate inputs, at several shifts
      val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
      def check(vals: Seq[Double], shift: Int = 44): Unit = {
        val df = vals.map(v => ("all", v)).toDF("g", "v")
        val (n, got) = Quantiles.nonNegScalarQuantiles(df, "v", ps, shift)
        assert(n == vals.size)
        val want = Quantiles.exactQuantiles(df, "g", "v", ps)
          .select($"p", $"value").as[(Double, Double)].collect().toMap
        ps.foreach { p =>
          assert(java.lang.Double.doubleToRawLongBits(got(p)) ==
                 java.lang.Double.doubleToRawLongBits(want(p)),
            s"p=$p shift=$shift: got ${got(p)} want ${want(p)}")
        }
      }
      val rnd = new scala.util.Random(42)
      check(Seq.fill(500)(rnd.nextDouble() * 1e4))                  // continuous
      check(Seq.fill(500)(rnd.nextInt(20).toDouble))                // tie-heavy + zeros
      check(Seq.fill(300)(rnd.nextInt(20).toDouble), shift = 52)    // coarse buckets
      check(Seq.fill(300)(rnd.nextDouble() * 1e-310))               // subnormals
      check(Seq(7.25))                                              // n = 1
      check(Seq(0.0, 0.0, 0.0, 5.0))                                // constant-heavy
      check((1 to 100).map(_ * 1e15))                               // large magnitudes
    }
    it("nonNegQuantilesFromCounts ≡ exactQuantilesFromCounts bit-for-bit (groups, weights, ties)") {
      val ps = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0)
      val rnd = new scala.util.Random(7)
      def check(rows: Seq[(String, Double, Long)], shift: Int = 44): Unit = {
        val vc = rows.toDF("g", "v", "c")
          // pre-aggregate to the (g, v) grain the counts contract expects
          .groupBy($"g", $"v").agg(sum($"c").as("c"))
        val got = Quantiles.nonNegQuantilesFromCounts(vc, "g", "v", "c", ps, shift)
          .as[(String, Double, Double)].collect()
          .map { case (g, p, v) => (g, p) -> v }.toMap
        val want = Quantiles.exactQuantilesFromCounts(vc, "g", "v", "c", ps)
          .as[(String, Double, Double)].collect()
          .map { case (g, p, v) => (g, p) -> v }.toMap
        assert(got.keySet == want.keySet)
        got.foreach { case (k, v) =>
          assert(java.lang.Double.doubleToRawLongBits(v) ==
                 java.lang.Double.doubleToRawLongBits(want(k)),
            s"$k shift=$shift: got $v want ${want(k)}")
        }
      }
      // continuous values, three groups, weights 1-5
      check(Seq.fill(600)((s"g${rnd.nextInt(3)}", rnd.nextDouble() * 1e4,
                           1L + rnd.nextInt(5))))
      // tie-heavy integer grid with zeros (the q119 discount/tax shape)
      check(Seq.fill(600)((s"g${rnd.nextInt(2)}", rnd.nextInt(8) * 0.05,
                           1L + rnd.nextInt(3))))
      // coarse buckets force multi-value cells through the fetch ranking
      check(Seq.fill(400)(("all", rnd.nextInt(50).toDouble, 1L)), shift = 56)
      // single-value group + large-weight group
      check(Seq(("a", 3.5, 1L), ("b", 1.0, 1000000L), ("b", 2.0, 1L)))
    }
    it("collectedQuantilesFromCounts ≡ exactQuantilesFromCounts bit-for-bit (one-job path)") {
      // the guarded limit-collect path must reproduce the histogram
      // paths' doubles exactly: same multiset, same ranks, same
      // interpolation — including negatives (it has no sign
      // restriction), ties, weights, and −0.0 normalization
      val ps = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0)
      val rnd = new scala.util.Random(19)
      def check(rows: Seq[(String, Double, Long)]): Unit = {
        val vc = rows.toDF("g", "v", "c")
        val got = Quantiles.collectedQuantilesFromCounts(vc, "g", "v", "c", ps)
          .getOrElse(fail("collected path unexpectedly over cap"))
        assert(got.columns.toSeq == Seq("g", "p", "value"))
        val gotM = got.as[(String, Double, Double)].collect()
          .map { case (g, p, v) => (g, p) -> v }.toMap
        val want = Quantiles.exactQuantilesFromCounts(
            vc.groupBy($"g", $"v").agg(sum($"c").as("c")), "g", "v", "c", ps)
          .as[(String, Double, Double)].collect()
          .map { case (g, p, v) => (g, p) -> v }.toMap
        assert(gotM.keySet == want.keySet)
        gotM.foreach { case (k, v) =>
          assert(java.lang.Double.doubleToRawLongBits(v) ==
                 java.lang.Double.doubleToRawLongBits(want(k)),
            s"$k: got $v want ${want(k)}")
        }
      }
      check(Seq.fill(600)((s"g${rnd.nextInt(3)}",
        (rnd.nextDouble() - 0.5) * 1e4, 1L + rnd.nextInt(5))))
      check(Seq.fill(600)((s"g${rnd.nextInt(2)}", rnd.nextInt(8) * 0.05, 1L)))
      check(Seq(("a", 3.5, 1L), ("b", 1.0, 1000000L), ("b", 2.0, 1L)))
      check(Seq(("z", -0.0, 2L), ("z", 0.0, 1L), ("z", 1.0, 1L)))
    }
    // edgeBinnedCounts is the composed reference for the q157/q175 fusion:
    // exactQuantiles edges, then a naive binning aggregate (v > edge count
    // picks the bin) tallying rows and flagged rows per bin
    def edgeBinnedCounts(df: DataFrame, ps: Seq[Double])
        : (Seq[Double], Seq[Long], Seq[Long]) = {
      val qs = Quantiles.exactQuantiles(
          df.select(lit("all").as("g"), col("v")), "g", "v", ps, buckets = 32)
        .select($"p", $"value").as[(Double, Double)].collect().toMap
      val edges = ps.map(qs)
      val binExpr = edges.map(q => when(col("v") > lit(q), 1).otherwise(0))
        .reduce(_ + _)
      val want = df.groupBy(binExpr.as("bin"))
        .agg(count(lit(1)).as("n"), count(when($"f", 1)).as("nf"))
        .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val bins = (0 to ps.size).map(b => want.getOrElse(b, (0L, 0L)))
      (edges, bins.map(_._1), bins.map(_._2))
    }
    // edges bitwise, then bins, then flag tallies
    def checkEdgeBinned(df: DataFrame, ps: Seq[Double], shift: Int = 44): Unit = {
      val (edges, n, nf) = Quantiles.nonNegEdgeBinnedCounts(df, "v", "f", ps, shift)
      val (wantEdges, wantN, wantNf) = edgeBinnedCounts(df, ps)
      ps.indices.foreach { i =>
        assert(java.lang.Double.doubleToRawLongBits(edges(i)) ==
               java.lang.Double.doubleToRawLongBits(wantEdges(i)),
               s"edge at p=${ps(i)}: ${edges(i)} vs ${wantEdges(i)}")
      }
      assert(n.toSeq == wantN, s"bins: ${n.toSeq} vs $wantN")
      assert(nf.toSeq == wantNf, s"flags: ${nf.toSeq} vs $wantNf")
    }
    it("edgeBinnedCounts ≡ exactQuantiles edges + a naive binning aggregate (q157/q175 fusion)") {
      // deliberately collision-heavy values (mod grid) so target buckets
      // hold ties, plus a skewed flag
      checkEdgeBinned(spark.range(20000).select(
        ((col("id") * 131) % 997).cast("double").as("v"),
        (col("id") % 7 === 0).as("f")), (1 to 9).map(_ / 10.0))
    }
    it("nonNegEdgeBinnedCounts ≡ edgeBinnedCounts (edges bitwise, bins, flag tallies)") {
      val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val rnd = new scala.util.Random(11)
      checkEdgeBinned(Seq.fill(800)((rnd.nextDouble() * 1e4, rnd.nextBoolean())).toDF("v", "f"), ps)
      checkEdgeBinned(Seq.fill(800)((rnd.nextInt(12) * 0.25, rnd.nextInt(4) == 0)).toDF("v", "f"), ps)
      checkEdgeBinned(Seq.fill(500)((rnd.nextInt(40).toDouble, rnd.nextBoolean())).toDF("v", "f"),
        ps, shift = 56)
      checkEdgeBinned(Seq((5.0, true)).toDF("v", "f"), ps)
      val neg = Seq((-2.0, false), (1.0, true)).toDF("v", "f")
      val e = intercept[IllegalArgumentException] {
        Quantiles.nonNegEdgeBinnedCounts(neg, "v", "f", ps)
      }
      assert(e.getMessage.contains("negative"))
    }
    it("nonNegQuantilesFromCounts rejects negatives per group, loud") {
      val vc = Seq(("a", -1.0, 1L), ("a", 2.0, 1L), ("b", 1.0, 1L))
        .toDF("g", "v", "c")
      val e = intercept[IllegalArgumentException] {
        Quantiles.nonNegQuantilesFromCounts(vc, "g", "v", "c", Seq(0.5))
      }
      assert(e.getMessage.contains("group a"))
      // empty frame: empty result, no throw
      assert(Quantiles.nonNegQuantilesFromCounts(
        Seq.empty[(String, Double, Long)].toDF("g", "v", "c"),
        "g", "v", "c", Seq(0.5)).count() == 0)
    }
    it("nonNegScalarQuantiles rejects inputs that break bit order, loud") {
      val neg = Seq(("all", -1.0), ("all", 2.0)).toDF("g", "v")
      val e1 = intercept[IllegalArgumentException] {
        Quantiles.nonNegScalarQuantiles(neg, "v", Seq(0.5))
      }
      assert(e1.getMessage.contains("negative"))
      val nan = Seq(("all", Double.NaN), ("all", 2.0)).toDF("g", "v")
      val e2 = intercept[IllegalArgumentException] {
        Quantiles.nonNegScalarQuantiles(nan, "v", Seq(0.5))
      }
      assert(e2.getMessage.contains("NaN"))
      // -0.0 is normalized, not rejected: numerically equal to +0.0
      val nz = Seq(("all", -0.0), ("all", 0.0), ("all", 1.0)).toDF("g", "v")
      val (n3, q3) = Quantiles.nonNegScalarQuantiles(nz, "v", Seq(0.0))
      assert(n3 == 3 && q3(0.0) == 0.0)
      // empty input: n = 0, no quantiles — callers publish NULL
      val (n4, q4) = Quantiles.nonNegScalarQuantiles(
        Seq.empty[(String, Double)].toDF("g", "v"), "v", Seq(0.5))
      assert(n4 == 0 && q4.isEmpty)
    }
    it("bit-bucket paths DEGRADE past the driver fetch bound instead of dying (ADVICE r15)") {
      // tie mass: ~every row lands in ONE bit bucket (values packed
      // into 1.0's top mantissa cell), so the proven fetch exceeds
      // MaxDriverPass2Rows and the shipped paths must ROUTE to their
      // equal-width siblings — bit-identically — not throw
      val m = Quantiles.MaxDriverPass2Rows + 7
      val big = spark.range(m)
        .select((lit(1.0) + $"id".cast("double") * lit(1e-12)).as("v"),
                ($"id" % 2 === 0).as("f"))
        .localCheckpoint(true)
      val (n, qs) = Quantiles.nonNegScalarQuantiles(big, "v", Seq(0.5))
      assert(n == m)
      val want = Quantiles
        .exactQuantiles(big.select(lit(1).as("g"), $"v"), "g", "v", Seq(0.5))
        .collect().head.getDouble(2)
      assert(java.lang.Double.doubleToRawLongBits(qs(0.5)) ==
             java.lang.Double.doubleToRawLongBits(want))
      val (e1, c1, f1) = Quantiles.nonNegEdgeBinnedCounts(big, "v", "f", Seq(0.5))
      assert(java.lang.Double.doubleToRawLongBits(e1.head) ==
             java.lang.Double.doubleToRawLongBits(want))
      assert(c1.sum == m && f1.sum == (m + 1) / 2)
      assert(c1.toSeq == Seq(big.filter($"v" <= want).count(),
                             big.filter($"v" > want).count()))
          // grouped sibling: the nv (distinct-values) bound trips on the
      // same frame as a c=1 counts input; the fallback must preserve
      // the caller's group column NAME through the internal rename
      val grouped = Quantiles.nonNegQuantilesFromCounts(
        big.select(lit("only").as("grp"), $"v", lit(1L).as("c")),
        "grp", "v", "c", Seq(0.5))
      assert(grouped.columns.toSeq == Seq("grp", "p", "value"))
      val gRow = grouped.collect()
      assert(gRow.length == 1 && gRow.head.getString(0) == "only")
      assert(java.lang.Double.doubleToRawLongBits(gRow.head.getDouble(2)) ==
             java.lang.Double.doubleToRawLongBits(want))
      // the one-job collected path must REFUSE the same frame: its
      // limit-collect sees cap+1 rows and returns None
      assert(Quantiles.collectedQuantilesFromCounts(
        big.select(lit("only").as("grp"), $"v", lit(1L).as("c")),
        "grp", "v", "c", Seq(0.5)).isEmpty)
    }
    it("never buffers the corpus: pass-2 window partitions are bucket-sized") {
      // structural check on the DISTRIBUTED chain (forced via
      // maxDriverGroups = 0) — the plan's only Window sits behind the
      // target-bucket semi-join, so its partitions hold ~n/B rows
      val df = spark.range(10000).select(
        (col("id") % 3).cast("string").as("g"),
        (col("id") * 37 % 10007).cast("double").as("v"))
      val p = Quantiles.exactQuantiles(df, "g", "v", Seq(0.5), buckets = 64,
          maxDriverGroups = 0)
        .queryExecution.executedPlan.toString
      assert(!p.contains("percentile"), s"must not use the buffering aggregate:\n$p")
      assert(p.contains("Window"), s"expected the bucket-local rank window:\n$p")
    }
  }
}
