package graft

import graft.ext.Dedup
import graft.ops.DriverGraph
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en"),
    (1L, "the quick brown fox jumps over the lazy cat", "en"), // near-dup of 0
    (2L, "completely different words entirely here now and then some", "en"),
    (3L, "the quick brown fox jumps over the lazy dog", "en"), // exact dup of 0
    (4L, "the quick brown fox jumps over the lazy dog", "fr")  // dup, other block
  ).toDF("doc_id", "text", "lang")

  describe("exact dedup") {
    it("groups identical normalized text under one keeper") {
      val out = Dedup.exact(docs, "text", "doc_id")
        .select($"keep_id", $"n_dupes").as[(Long, Long)].collect().toSet
      // docs 0,3,4 identical (block-free exact dedup) → keeper 0 with 3 copies
      assert(out == Set((0L, 3L), (1L, 1L), (2L, 1L)))
    }
  }

  describe("ngram jaccard near-dup") {
    it("finds the planted near-dup pair within its lang block only") {
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "lang", 3, 0.5)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((0L, 1L))) // near-dup
      assert(pairs.contains((0L, 3L))) // exact dup, jaccard 1.0
      assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // fr block isolated
      assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated text
    }
  }

  describe("containment pairs") {
    it("surfaces the quote a symmetric jaccard misses, reports both directions exactly") {
      // doc 11 is a verbatim quote inside the much longer doc 10:
      // containment on the short side = 1.0 while jaccard stays low
      val quoted = Seq(
        (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
              "lambda mu nu xi omicron pi rho sigma tau upsilon", "en"),
        (11L, "alpha beta gamma delta epsilon zeta", "en"),
        (12L, "one two three four five six seven eight nine ten", "en")
      ).toDF("doc_id", "text", "lang")
      val out = Dedup.containmentPairs(quoted, "text", "doc_id", "lang", 3, 0.6)
        .as[(Long, Long, Long, Double, Double)].collect()
      assert(out.map(r => (r._1, r._2)).toSet == Set((10L, 11L)))
      val (_, _, shared, contA, contB) = out.head
      // doc 11 has 4 3-gram shingles, all inside doc 10 (18 shingles)
      assert(shared == 4L)
      assert(contB == 1.0)
      assert(contA == 4.0 / 18.0)
      // the same pair under symmetric jaccard: 4/18 — below any useful
      // near-dup threshold, which is the point of the asymmetric measure
      val jac = Dedup.ngramJaccardPairs(quoted, "text", "doc_id", "lang", 3, 0.5)
        .as[(Long, Long, Double)].collect()
      assert(!jac.exists(p => (p._1, p._2) == ((10L, 11L))))
    }
  }

  describe("minhash LSH") {
    it("recovers the same verified pairs as exact jaccard") {
      val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "lang", 3, 0.5)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id", "lang", 3, 8, 4, 0.5)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(lsh == exact)
    }
  }

  describe("exact dedup key width") {
    it("keeps a REAL 60-bit fingerprint collision separate (found by tools/FindFpCollision)") {
      // two distinct digit-strings with identical portableHash(·, 0) —
      // an actual md5-prefix birthday collision, not a mock. A 60-bit
      // grouping key would silently merge them; the full-md5 key must not.
      val a = "431663849205606462"
      val b = "385175942457542713"
      val colliding = Seq((100L, a, "en"), (200L, b, "en")).toDF("doc_id", "text", "lang")
      // both really do display the same 60-bit fingerprint…
      val fps = colliding
        .select(graft.functions.TextFunctions.fingerprint(col("text")))
        .as[Long].collect().toSet
      assert(fps == Set(544929582141136174L))
      // …and exact dedup still reports two distinct groups
      val out = Dedup.exact(colliding, "text", "doc_id")
        .select($"fp", $"keep_id", $"n_dupes").as[(Long, Long, Long)]
        .collect().toSet
      assert(out == Set((544929582141136174L, 100L, 1L),
                        (544929582141136174L, 200L, 1L)))
    }

    it("does not merge distinct texts that collide on the 60-bit display fingerprint") {
      // inject a constant (maximally-colliding) fingerprint column:
      // group identity must come from the full-width key, so distinct
      // texts stay separate even when every displayed fp is equal
      val out = Dedup.exactByKey(docs, md5(col("text").cast("binary")),
          lit(42L), "doc_id")
        .select($"fp", $"keep_id", $"n_dupes").as[(Long, Long, Long)]
        .collect().toSet
      assert(out == Set((42L, 0L, 3L), (42L, 1L, 1L), (42L, 2L, 1L)))
    }
  }

  describe("hot-shingle df cap") {
    it("caps consistently: dropped shingles leave the denominator too") {
      // A and B share 4 rare shingles plus 1 hot shingle ("common base
      // words", df=12 > maxDf=5). Capped universe: 4 shingles per doc,
      // 3 shared → jaccard 3/5 = 0.6. The inconsistent (numerator-only)
      // math would report 3/(5+5-3) ≈ 0.43 and miss the 0.5 threshold.
      val docs = (Seq(
        (100L, "common base words alpha beta gamma delta"),
        (101L, "common base words alpha beta gamma epsilon")) ++
        (0L until 10L).map(i => (i, s"common base words filler$i")))
        .toDF("doc_id", "text").withColumn("lang", lit("en"))
      val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "lang",
                                          3, 0.5, maxDf = 5)
        .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      assert(pairs.toSeq == Seq((100L, 101L, 0.6)))
    }

    it("caps containment consistently: dropped shingles leave both denominators") {
      // same planted corpus: "common base words" has df=12 > maxDf=5 and
      // is dropped from the universe. Capped: 4 shingles per doc, 3
      // shared → containment 3/4 = 0.75 each way. The inconsistent
      // (numerator-only) math would report 3/5 = 0.6 and miss the 0.7
      // threshold.
      val docs = (Seq(
        (100L, "common base words alpha beta gamma delta"),
        (101L, "common base words alpha beta gamma epsilon")) ++
        (0L until 10L).map(i => (i, s"common base words filler$i")))
        .toDF("doc_id", "text").withColumn("lang", lit("en"))
      val pairs = Dedup.containmentPairs(docs, "text", "doc_id", "lang",
                                         3, 0.7, maxDf = 5)
        .select($"id_a", $"id_b", $"cont_a", $"cont_b")
        .as[(Long, Long, Double, Double)].collect()
      assert(pairs.toSeq == Seq((100L, 101L, 0.75, 0.75)))
    }

    it("bounds containment pair expansion on a 10k-document hot shingle") {
      val hot = spark.range(10000).select(
        $"id".as("doc_id"),
        concat(lit("common shingle words here plus tail "), $"id".cast("string")).as("text"),
        lit("en").as("lang"))
      val pairs = Dedup.containmentPairs(hot, "text", "doc_id", "lang", 3,
                                         0.1, maxDf = 100)
      assert(pairs.count() == 0)
    }

    it("bounds pair expansion on a 10k-document hot shingle") {
      // 10k docs share 4 ultra-common shingles (uncapped: ~2×10⁸ pair
      // rows from those posting lists); each doc's remaining shingle is
      // unique, so a df-cap of 100 must yield zero pairs, quickly
      val hot = spark.range(10000).select(
        $"id".as("doc_id"),
        concat(lit("common shingle words here plus tail "), $"id".cast("string")).as("text"),
        lit("en").as("lang"))
      val pairs = Dedup.ngramJaccardPairs(hot, "text", "doc_id", "lang", 3,
                                          0.1, maxDf = 100)
      assert(pairs.count() == 0)
    }
  }

  describe("dedup groups (connected components)") {
    it("resolves transitive pairs to min-label components") {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
                      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
      val groups = Dedup.dedupGroups(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                           10L -> 10L, 11L -> 10L,
                           20L -> 20L, 21L -> 20L, 22L -> 20L))
    }
    it("converges on a chain longer than one propagation round (distributed path forced)") {
      // maxDriverEdges = 0 disables the driver fast path so this
      // exercises the iterative min-label propagation loop
      val chain = (1L to 8L).sliding(2).map(s => (s(0), s(1))).toSeq
        .toDF("id_a", "id_b")
      val groups = Dedup.dedupGroups(chain, "id_a", "id_b", maxDriverEdges = 0)
        .as[(Long, Long)].collect().toMap
      assert(groups.keySet == (1L to 8L).toSet)
      assert(groups.values.toSet == Set(1L))
    }
    it("drops null-id edges identically on both paths") {
      val pairs = Seq((Some(1L), Some(2L)), (Some(3L), None), (None, Some(4L)))
        .toDF("id_a", "id_b")
      val local = Dedup.dedupGroups(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      val dist = Dedup.dedupGroups(pairs, "id_a", "id_b", maxDriverEdges = 0)
        .as[(Long, Long)].collect().toMap
      assert(local == Map(1L -> 1L, 2L -> 1L) && dist == local)
    }
    it("mixed-type id columns route to the distributed path and stay exact") {
      // id_a int, id_b long with a value beyond Int range: the driver
      // path would cast the result back to int and wrap it — the type
      // guard must send this through the distributed loop instead
      val big = 5000000000L
      val pairs = Seq((1, big), (2, 3L)).toDF("id_a", "id_b")
        .select(col("id_a").cast("int").as("id_a"), col("id_b"))
      val groups = Dedup.dedupGroups(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      assert(groups == Map(1L -> 1L, big -> 1L, 2L -> 2L, 3L -> 2L))
    }
    it("driver fast path and distributed loop agree") {
      // mixed topology: chain + triangle + isolated pair + self-loop
      val pairs = (Seq((5L, 9L), (9L, 3L), (3L, 17L)) ++
        Seq((40L, 41L), (41L, 42L), (40L, 42L)) ++
        Seq((100L, 101L), (7L, 7L))).toDF("id_a", "id_b")
      val local = Dedup.dedupGroups(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      val dist = Dedup.dedupGroups(pairs, "id_a", "id_b", maxDriverEdges = 0)
        .as[(Long, Long)].collect().toMap
      assert(local == dist)
      assert(local(17L) == 3L && local(42L) == 40L && local(7L) == 7L)
    }
  }

  describe("simhash") {
    it("separates near-dups (small hamming) from unrelated docs") {
      val fp = Dedup.simhash(docs, "text", "doc_id")
        .as[(Long, Long)].collect().toMap
      def ham(a: Long, b: Long) = java.lang.Long.bitCount(fp(a) ^ fp(b))
      assert(ham(0L, 3L) == 0)   // identical text → identical fingerprint
      assert(ham(0L, 1L) <= 12)  // near-dup → close
      assert(ham(0L, 2L) > 12)   // unrelated → far
    }
    it("simhashPairs respects the block column and distance bound") {
      val pairs = Dedup.simhashPairs(docs, "text", "doc_id", "lang", 12)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pairs.contains((0L, 3L)))
      assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    }
    it("banded pairs match the blocked O(n²) formulation for maxDist < bands") {
      val cols = Seq($"id_a", $"id_b", $"hamming")
      val banded = Dedup.simhashPairsBanded(docs, "text", "doc_id", "lang", 3)
        .select(cols: _*).as[(Long, Long, Long)].collect().toSet
      val blocked = Dedup.simhashPairs(docs, "text", "doc_id", "lang", 3)
        .select(cols: _*).as[(Long, Long, Long)].collect().toSet
      assert(banded == blocked)
    }
  }

  describe("hammingPairsBanded (generic 64-bit fingerprint LSH, q227's machinery)") {
    it("equals brute-force O(n²) on random fingerprints for every maxDist < bands") {
      // deterministic pseudo-random 64-bit fingerprints with planted
      // near-pairs: id i flips (i % 4) bits of anchor (i - i % 5)
      val rnd = new scala.util.Random(11)
      val anchors = (0 until 12).map(_ => rnd.nextLong())
      val fps = (0 until 60).map { i =>
        val base = anchors(i / 5)
        val flips = i % 4
        (0 until flips).foldLeft(base)((f, k) => f ^ (1L << ((i * 7 + k * 13) % 64)))
      }
      val df = fps.zipWithIndex.map { case (f, i) => (i.toLong, f) }.toDF("id", "fp")
      for (maxDist <- Seq(0, 1, 3)) {
        val banded = Dedup.hammingPairsBanded(df, "id", "fp", maxDist)
          .as[(Long, Long, Long)].collect().toSet
        val brute = (for {
          i <- fps.indices; j <- 0 until i
          h = java.lang.Long.bitCount(fps(i) ^ fps(j))
          if h <= maxDist
        } yield (j.toLong, i.toLong, h.toLong)).toSet
        assert(banded == brute, s"maxDist=$maxDist: ${banded.size} vs ${brute.size}")
      }
    }
    it("rejects maxDist >= bands (banding would be lossy)") {
      val df = Seq((1L, 5L)).toDF("id", "fp")
      assertThrows[IllegalArgumentException] {
        Dedup.hammingPairsBanded(df, "id", "fp", maxDist = 4, bands = 4)
      }
    }
  }

  describe("blockedLinkage (oversized-block routing guard, q141's machinery)") {
    // Fixture-shaped names: 9-char prefix + 9-digit suffix, so
    // suffixBands(nm, 10, 3, 3) bands exactly the digit region.
    def nm(d: Long): String = f"Customer#$d%09d"
    def bandsOf(c: org.apache.spark.sql.Column) =
      Dedup.suffixBands(c, 10, 3, 3)

    /** Reference model of blockedLinkage: plain per-block all-pairs for
      * blocks <= cap; band-bucket candidates (bucket <= cap, multi-band
      * deduped) for oversized blocks. Independent re-derivation in
      * driver-side Scala — no Spark ops shared with the implementation. */
    def model(rows: Seq[(Long, String, Int)], cap: Int)
        : Set[(Long, Long, Boolean)] = {
      val byBlock = rows.groupBy(_._3)
      byBlock.values.flatMap { blk =>
        if (blk.size <= cap) {
          for (a <- blk; b <- blk if a._1 < b._1) yield (a._1, b._1, false)
        } else {
          val buckets = blk.flatMap { case (id, name, _) =>
            (0 until 3).map(bi => ((bi, name.substring(9 + 3 * bi, 12 + 3 * bi)), id))
          }.groupBy(_._1).filter(_._2.size <= cap).values.map(_.map(_._2))
          buckets.flatMap(ids =>
            for (a <- ids; b <- ids if a < b) yield (a, b, true)).toSet
        }
      }.toSet
    }

    def run(rows: Seq[(Long, String, Int)], cap: Long)
        : Set[(Long, Long, Boolean)] =
      Dedup.blockedLinkage(rows.toDF("id", "name", "blk"),
          "id", "name", Seq("blk"), cap, bandsOf)
        .select($"id_a", $"id_b", $"routed")
        .as[(Long, Long, Boolean)].collect().toSet

    it("equals the plain blocked all-pairs join when every block is bounded") {
      val rnd = new scala.util.Random(12)
      val rows = (0 until 40).map(i => (i.toLong, nm(rnd.nextInt(1000000)), i % 5))
      val out = run(rows, cap = 16L)
      assert(out.forall(!_._3), "no pair may be routed when all blocks <= cap")
      assert(out == model(rows, 16))
    }

    it("matches the independent model with mixed bounded and oversized blocks") {
      val rnd = new scala.util.Random(13)
      // block 0: 30 rows (oversized at cap 8); block 1: 8 (at cap);
      // block 2: 3; block 3: 12 (oversized). Suffixes drawn from a small
      // digit pool so band buckets actually collide (and some exceed cap).
      val sizes = Seq(30, 8, 3, 12)
      var id = 0L
      val rows = sizes.zipWithIndex.flatMap { case (n, blk) =>
        (0 until n).map { _ =>
          id += 1
          (id, nm(rnd.nextInt(40) * 1001L + rnd.nextInt(3)), blk)
        }
      }
      for (cap <- Seq(2L, 8L, 64L)) {
        assert(run(rows, cap) == model(rows, cap.toInt), s"cap=$cap")
      }
    }

    it("pigeonhole floor: pairs within bands-1 suffix edits survive routing while a shared band bucket is under the cap") {
      // one oversized block (cap 4, 20 rows); planted pairs differ in at
      // most 2 of the 9 suffix digits -> at least one of the 3 bands
      // agrees exactly. All other suffixes are unique 9-digit values, so
      // no band bucket can exceed the cap (planted pairs share only each
      // other's bands).
      val planted = Seq(
        (100L, "Customer#123456789", 101L, "Customer#123456788"), // 1 edit, band 2 differs
        (102L, "Customer#555123999", 103L, "Customer#554123998"), // 2 edits, band 1 agrees
        (104L, "Customer#777000111", 105L, "Customer#787000121")  // 2 edits, band 2 agrees
      )
      val filler = (0 until 14).map(i => (200L + i, nm(900000000L + i * 1371L)))
      val rows = (planted.flatMap(p => Seq((p._1, p._2), (p._3, p._4))) ++ filler)
        .map { case (i, n) => (i, n, 0) }
      val out = run(rows, cap = 4L)
      planted.foreach { p =>
        assert(out.contains((p._1, p._3, true)), s"lost planted pair $p")
      }
      assert(out == model(rows, 4))
    }

    /** Textbook Wagner–Fischer edit distance — the driver-side reference
      * the q58 grid case scores its plain blocked model with (no Spark
      * expression shared with the implementation under test). */
    def levenshteinRef(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }

    it("q58's grid (3 x 2-char bands at 13) + levenshtein: routed == exact on bounded blocks, model-equal when oversized") {
      // the round-13 q58 rework routes the supplier fuzzy-match through
      // this guard; this pins its EXACT configuration — width-2 bands
      // over the digit tail — against the independent model, and that
      // a bounded-block run scored with levenshtein <= 2 is IDENTICAL
      // to the old plain blocked all-pairs form it replaced
      def nm58(d: Long): String = f"Supplier#$d%09d"
      def bands58(c: org.apache.spark.sql.Column) =
        Dedup.suffixBands(c, 13, 2, 3)
      def model58(rows: Seq[(Long, String, Int)], cap: Int)
          : Set[(Long, Long, Boolean)] = {
        val byBlock = rows.groupBy(_._3)
        byBlock.values.flatMap { blk =>
          if (blk.size <= cap) {
            for (a <- blk; b <- blk if a._1 < b._1) yield (a._1, b._1, false)
          } else {
            val buckets = blk.flatMap { case (id, name, _) =>
              (0 until 3).map(bi => ((bi, name.substring(12 + 2 * bi, 14 + 2 * bi)), id))
            }.groupBy(_._1).filter(_._2.size <= cap).values.map(_.map(_._2))
            buckets.flatMap(ids =>
              for (a <- ids; b <- ids if a < b) yield (a, b, true)).toSet
          }
        }.toSet
      }
      val rnd = new scala.util.Random(58)
      val rows = (0 until 60).map(i =>
        (i.toLong, nm58(rnd.nextInt(2000).toLong), i % 6))
      // bounded: every block (10 rows) <= cap 16 -> no routing, and the
      // levenshtein-scored output equals the plain blocked form
      val bounded = Dedup.blockedLinkage(rows.toDF("id", "name", "blk"),
          "id", "name", Seq("blk"), 16L, bands58)
      assert(bounded.filter($"routed").isEmpty,
        "no pair may be routed when all blocks <= cap")
      val scored = bounded
        .select($"id_a", $"id_b",
          levenshtein($"name_a", $"name_b").cast("long").as("dist"))
        .filter($"dist" <= 2)
        .as[(Long, Long, Long)].collect().toSet
      val plain = (for {
        a <- rows; b <- rows
        if a._3 == b._3 && a._1 < b._1
        dst = levenshteinRef(a._2, b._2) if dst <= 2
      } yield (a._1, b._1, dst.toLong)).toSet
      assert(scored == plain,
        "routed-off guard output with levenshtein scoring must equal the plain blocked all-pairs")
      // oversized: cap 4 forces every block through the band plane ->
      // independent model equality for THIS grid
      val out = Dedup.blockedLinkage(rows.toDF("id", "name", "blk"),
          "id", "name", Seq("blk"), 4L, bands58)
        .select($"id_a", $"id_b", $"routed")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(out == model58(rows, 4))
    }

    it("drops hot band buckets over the cap (bounded candidate volume)") {
      // every row shares suffix prefix "000000" -> bands 0 and 1 are one
      // hot bucket of size 25 > cap 8 and must be dropped; band 2 varies.
      val rows = (0 until 25).map(i => (i.toLong, nm(i % 5), 0))
      val out = run(rows, cap = 8L)
      assert(out == model(rows, 8))
      // all surviving candidates agree on band 2 (the last 3 digits)
      out.foreach { case (a, b, _) =>
        assert(a % 5 == b % 5, s"pair ($a,$b) not from the band-2 bucket")
      }
    }
  }

  describe("segment dedup (sub-document boilerplate removal)") {
    // 4-token segments: doc 0/1 share an identical first segment
    // (corpus-frequency 2 → boilerplate), their tails are unique
    val segDocs = Seq(
      (0L, "one two three four alpha beta gamma delta"),
      (1L, "one two three four epsilon zeta eta theta"),
      (2L, "iota kappa lambda mu"),
      (3L, ""),                      // blank doc must survive, empty output
      (4L, "one two three four")     // ONLY the boilerplate → empty clean_text
    ).toDF("doc_id", "text")

    it("removes corpus-repeated segments from every doc, keeps unique tails in order") {
      val out = Dedup.segmentDedup(segDocs, "text", "doc_id", segLen = 4, minRep = 2)
        .select($"doc_id", $"n_tokens", $"n_kept_segments", $"clean_text")
        .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
      assert(out.size == 5, "every input doc yields exactly one row")
      assert(out(0L) == ((0L, 8L, 1L, "alpha beta gamma delta")))
      assert(out(1L) == ((1L, 8L, 1L, "epsilon zeta eta theta")))
      assert(out(2L) == ((2L, 4L, 1L, "iota kappa lambda mu")))
      assert(out(3L) == ((3L, 0L, 0L, "")), "blank doc: zero segments, kept")
      assert(out(4L) == ((4L, 4L, 0L, "")), "fully-boilerplate doc: kept, emptied")
    }
    it("a partial trailing segment is its own unit, not merged into a neighbor") {
      val df = Seq((0L, "a b c d e"), (1L, "x y z w e")).toDF("doc_id", "text")
      // trailing segments are both just "e" → frequency 2 → removed
      val out = Dedup.segmentDedup(df, "text", "doc_id", segLen = 4, minRep = 2)
        .select($"doc_id", $"clean_text").as[(Long, String)].collect().toMap
      assert(out(0L) == "a b c d" && out(1L) == "x y z w")
    }
  }

  describe("cross-corpus MinHash LSH join (incremental near-dup probe)") {
    it("batch docs find their standing-corpus near-dups, cross-side only") {
      val index = Seq(
        (0L, "en", "the quick brown fox jumps over the lazy dog every single day"),
        (2L, "en", "completely unrelated content about distributed query engines"),
        (4L, "de", "der schnelle braune fuchs springt jeden tag")).toDF("doc_id", "lang", "text")
      val batch = Seq(
        // near-dup of 0 (one token appended -> 10 of 11 shingles shared,
        // jaccard 10/11; with s ~ 0.91 a band match is effectively
        // certain and — md5 being fixed — deterministic for this text)
        (1L, "en", "the quick brown fox jumps over the lazy dog every single day indeed"),
        // identical to 3's own batch-mate? no — unique
        (3L, "en", "fresh batch document with entirely new content"),
        // identical text to index doc 4 but different lang -> blocked
        (5L, "en", "der schnelle braune fuchs springt jeden tag")).toDF("doc_id", "lang", "text")
      val out = Dedup.minhashLshJoin(batch, index, "text", "doc_id", "lang",
          3, numHashes = 8, bands = 4, threshold = 0.5)
        .select($"id_l", $"id_r", $"jaccard").as[(Long, Long, Double)].collect()
      assert(out.map(r => (r._1, r._2)).toSet == Set((1L, 0L)),
        s"expected only the planted near-dup, got ${out.toSeq}")
      assert(out.head._3 >= 0.5 && out.head._3 < 1.0)
    }
  }

  describe("span dedup (repeated-substring removal, any alignment)") {
    def run(rows: Seq[(Long, String)], winLen: Int = 3) =
      Dedup.spanDedup(rows.toDF("doc_id", "text"), "text", "doc_id",
                      winLen = winLen, minRep = 2)
        .select($"doc_id", $"n_tokens", $"n_spans", $"n_removed_tokens", $"clean_text")
        .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap

    it("removes a shared span at DIFFERENT alignments (the q67 blind spot)") {
      // "p q r s" sits at offset 0 of doc 0 and offset 1 of doc 1 —
      // disjoint 4-token segments would never line up, but 3-token
      // windows [p q r] and [q r s] repeat, covering [0,4) and [1,5)
      val out = run(Seq(
        (0L, "p q r s t u"),
        (1L, "x p q r s y")))
      assert(out(0L) == ((0L, 6L, 1L, 4L, "t u")))
      assert(out(1L) == ((1L, 6L, 1L, 4L, "x y")))
    }
    it("within-doc repetition alone triggers removal; full cover empties the doc") {
      val out = run(Seq((0L, "m n o m n o m n o"), (1L, "q r s t u v")))
      assert(out(0L) == ((0L, 9L, 1L, 9L, "")), "periodic doc collapses to one full-cover span")
      assert(out(1L) == ((1L, 6L, 0L, 0L, "q r s t u v")), "unique doc untouched")
    }
    it("non-adjacent repeats merge into separate spans, survivors keep order") {
      val out = run(Seq(
        (0L, "p q r AA BB CC s t u"),
        (1L, "p q r DD EE FF s t u")))
      assert(out(0L) == ((0L, 9L, 2L, 6L, "AA BB CC")))
      assert(out(1L) == ((1L, 9L, 2L, 6L, "DD EE FF")))
    }
    it("docs shorter than the window and blank docs pass through") {
      val out = run(Seq((0L, "a b"), (1L, ""), (2L, "a b")))
      // "a b" has no 3-token window, so even identical short docs stay
      assert(out(0L) == ((0L, 2L, 0L, 0L, "a b")))
      assert(out(1L) == ((1L, 0L, 0L, 0L, "")))
    }
    it("adjacent duplicated windows union into one contiguous span") {
      // doc 0 = doc 1: every window repeats; consecutive positions are
      // <= winLen apart so the whole doc is ONE merged interval
      val out = run(Seq((0L, "a b c d e f g h"), (1L, "a b c d e f g h")))
      Seq(0L, 1L).foreach { id =>
        assert(out(id) == ((id, 8L, 1L, 8L, "")))
      }
    }
  }

  describe("token-budget selection") {
    it("fills greedily by quality, never exceeds the budget, admits in rank order") {
      // quality ranking inside one group is deterministic (portable
      // scorer); budget admits only a prefix of the quality-sorted order
      val docs = Seq(
        (0L, "g1", "the quick brown fox jumps over the lazy dog again and again"),
        (1L, "g1", "a b c d e f g h i j k l"),
        (2L, "g1", "11 22 33 44"),
        (3L, "g2", "the only doc in this group is admitted")
      ).toDF("doc_id", "lang", "text")
      val out = graft.ext.Sampling
        .tokenBudgetSelect(docs, "lang", "text", "doc_id", budget = 24L)
        .select($"grp", $"doc_id", $"n_tokens", $"cum_tokens")
        .as[(String, Long, Long, Long)].collect()
      val byGrp = out.groupBy(_._1)
      assert(byGrp("g1").map(_._4).max <= 24L)
      assert(byGrp("g2").map(_._2).toSeq == Seq(3L))
      // a cum_tokens prefix: each admitted doc's cum = sum of admitted so far
      byGrp.values.foreach { rows =>
        val sorted = rows.sortBy(_._4)
        assert(sorted.map(_._3).scanLeft(0L)(_ + _).drop(1).toSeq ==
               sorted.map(_._4).toSeq)
      }
    }
  }

  describe("hopsToRep adaptive strategy (round 14)") {
    // a 5-chain (diameter 4 from the rep) plus a separate 2-clique:
    // exercises hops >= 2 transitive tails and multiple components
    lazy val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
                         (10L, 11L)).toDF("id_a", "id_b")

    it("driver BFS equals the distributed relaxation exactly") {
      val local = graft.ext.Dedup.hopsToRep(chain, "id_a", "id_b")
        .as[(Long, Long, Long)].collect().toSet
      val dist = graft.ext.Dedup.hopsToRep(chain, "id_a", "id_b",
          maxDriverEdges = 0L) // force the distributed path
        .as[(Long, Long, Long)].collect().toSet
      assert(local == dist)
      assert(local == Set((0L, 0L, 0L), (1L, 0L, 1L), (2L, 0L, 2L),
                          (3L, 0L, 3L), (4L, 0L, 4L),
                          (10L, 10L, 0L), (11L, 10L, 1L)))
    }

    it("both paths refuse identically when the diameter exceeds maxIter") {
      intercept[IllegalStateException] {
        graft.ext.Dedup.hopsToRep(chain, "id_a", "id_b", maxIter = 3)
      }
      intercept[IllegalStateException] {
        graft.ext.Dedup.hopsToRep(chain, "id_a", "id_b", maxIter = 3,
          maxDriverEdges = 0L)
      }
    }

    it("maxDriverEdges = 0 keeps the components off the driver too") {
      /** The result, and the call sites of the jobs it ran. */
      def traced(maxDriverEdges: Long): (Set[(Long, Long, Long)], Seq[String]) = {
        val (out, jobs) = JobTrace(spark) {
          graft.ext.Dedup.hopsToRep(chain, "id_a", "id_b", maxDriverEdges = maxDriverEdges)
            .as[(Long, Long, Long)].collect().toSet
        }
        (out, jobs.map(_.callSite))
      }
      val onDriver = (sites: Seq[String]) => sites.exists(_.startsWith("collect at DriverGraph.scala"))
      val (local, localSites) = traced(DriverGraph.MaxDriverEdges)
      val (dist, distSites) = traced(0L)
      assert(onDriver(localSites), s"driver path call sites: ${localSites.mkString(", ")}")
      assert(!onDriver(distSites), s"distributed path call sites: ${distSites.mkString(", ")}")
      assert(dist == local)
    }

    it("drops null-id edges on both paths: equal to the graph without them") {
      val withNull = Seq((Some(0L), Some(1L)), (Some(1L), Some(2L)),
                         (Some(2L), None), (None, Some(7L))).toDF("id_a", "id_b")
      val expected = Set((0L, 0L, 0L), (1L, 0L, 1L), (2L, 0L, 2L))
      val local = graft.ext.Dedup.hopsToRep(withNull, "id_a", "id_b")
        .as[(Long, Long, Long)].collect().toSet
      val dist = graft.ext.Dedup.hopsToRep(withNull, "id_a", "id_b",
          maxDriverEdges = 0L)
        .as[(Long, Long, Long)].collect().toSet
      assert(local == expected && dist == expected)
    }
  }
}
