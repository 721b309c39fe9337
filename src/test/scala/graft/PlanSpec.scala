package graft

/** Plan-shape regression tests: the scale properties (pushdown, column
  * pruning, broadcast choice, shuffle count) that make these queries
  * viable at 100 TB. If a refactor silently loses one, these fail. */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  describe("scan efficiency") {
    it("q01 pushes the filter into the parquet scan and prunes columns") {
      val p = planOf("q01_scan_project")
      assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"))
      assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"))
    }
    it("q02 pushes the equality + range predicates") {
      val p = planOf("q02_filter_events")
      assert(p.contains("EqualTo(event_type,purchase)"))
      assert(p.contains("GreaterThan(value,50.0)"))
    }
  }

  describe("join strategy") {
    it("q06 broadcasts the dimension side") {
      assert(planOf("q06_join_broadcast").contains("BroadcastHashJoin"))
    }
    it("q05 uses a broadcastable right side or shuffle join, never cartesian") {
      assert(!planOf("q05_join_left").contains("CartesianProduct"))
    }
    it("ANN brute-force top-k broadcasts the query side (corpus never shuffles before scoring)") {
      val p = planOf("q24_ann_topk")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    }
  }

  describe("top-k strategy (no whole-table single-task sorts)") {
    it("q14 global top-k plans as TakeOrderedAndProject (per-partition top-k + merge)") {
      val p = planOf("q14_topk")
      assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
    }
    it("q35 final top-10 plans as TakeOrderedAndProject") {
      val p = planOf("q35_shipping_priority")
      assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
    }
    it("q24 ANN ranking runs through the bounded-heap TopKPerKey operator") {
      val p = planOf("q24_ann_topk")
      assert(p.contains("TopKPerKey"), s"plan:\n$p")
    }
    it("q24b IVF ranking runs through the bounded-heap TopKPerKey operator") {
      val p = planOf("q24b_ann_ivf")
      assert(p.contains("TopKPerKey"), s"plan:\n$p")
    }
    it("q24b IVF cell assignment is map-only (literal codebook, no window / no corpus exchange)") {
      val p = planOf("q24b_ann_ivf")
      // exactly ONE Window node is legitimate (rank derivation over the
      // ≤k TopK survivors). The earlier formulation window-sorted the
      // |corpus|×nCells cross join for BOTH cell assignment and query
      // probes — three Windows total and a corpus-wide shuffle of
      // embeddings; with the codebook embedded as literals both sides
      // are pure map work (array_min / array_sort over per-centroid
      // scores)
      val windows = p.linesIterator.count(_.trim.matches("^[+:\\-* ]*Window .*"))
      assert(windows == 1, s"expected only the rank window, found $windows:\n$p")
      // the one allowed exchange family: the TopK final pass / rank
      // partitioning by query_id over ≤k·|queries| rows — never a
      // corpus-side hash partitioning for cell assignment. Corpus rows
      // reach the probe join via broadcast of the probes, so no
      // Exchange may sit between the corpus scan and the join.
      assert(!p.contains("CartesianProduct"), s"assignment regressed to cross join:\n$p")
    }
    it("q24c PQ encode is map-only; the only exchange is the TopK final pass") {
      val p = planOf("q24c_ann_pq")
      assert(p.contains("TopKPerKey"), s"plan:\n$p")
      // exactly ONE Window node is legitimate (the rank derivation over
      // the ≤k TopK survivors). Physical plans print node names with
      // the "Exec" suffix stripped, so count "Window" lines.
      val windows = p.linesIterator.count(_.trim.matches("^[+:\\-* ]*Window .*"))
      assert(windows == 1, s"expected 1 rank window, found $windows:\n$p")
      // encode+reconstruct is the native pq_reconstruct expression over
      // the corpus scan — the earlier explode → broadcast-join → min_by
      // composition cost two exchanges of code rows; now the single
      // non-broadcast exchange left is the TopK partial→final hop
      assert(p.contains("pq_reconstruct"), s"PQ encode must be the native expression:\n$p")
      val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
      assert(exchanges == 1, s"expected only the TopK exchange, found $exchanges:\n$p")
    }
  }

  describe("vector plane strategy") {
    it("q69 int8 quantization is map-only: no exchange anywhere in the plan") {
      val p = planOf("q69_quantize_int8")
      assert(!p.contains("Exchange"), s"quantization must not shuffle:\n$p")
    }
    it("q74 classifier inference is map-only: no exchange anywhere in the plan") {
      val p = planOf("q74_quality_classifier")
      assert(!p.contains("Exchange"), s"classifier scoring must not shuffle:\n$p")
    }
    it("q79 rule battery is map-only: no exchange anywhere in the plan") {
      val p = planOf("q79_gopher_rules")
      assert(!p.contains("Exchange"), s"rule filtering must not shuffle:\n$p")
    }
    it("q80 CMS build partially aggregates map-side (one matrix per partition crosses the wire)") {
      val p = planOf("q80_cms_heavy_hitters")
      assert(p.contains("partial_cms_build"), s"expected map-side sketch combine:\n$p")
    }
    it("q24d IVF-PQ: the only non-broadcast exchange is the TopK hop; corpus never shuffles") {
      val p = planOf("q24d_ann_ivfpq")
      assert(p.contains("TopKPerKey"), s"plan:\n$p")
      val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
      assert(exchanges == 1, s"expected only the TopK exchange, found $exchanges:\n$p")
    }
    it("q123 hard negatives: label filter sits under the bounded heap; corpus never shuffles") {
      val p = planOf("q123_hard_negatives")
      assert(p.contains("TopKPerKey"), s"plan:\n$p")
      val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
      assert(exchanges == 1, s"expected only the TopK exchange, found $exchanges:\n$p")
    }
    it("q85 k-means assignment is map-only: no window anywhere, corpus shuffles only for the bounded (cell, dim) means") {
      val p = planOf("q85_kmeans_codebook")
      assert(!p.contains("Window"), s"assignment must not window-sort:\n$p")
      assert(p.contains("nearest_cells"), s"expected the native assignment expression:\n$p")
    }
    it("q86 CCNet bucketing assigns against broadcast cutoffs, never a corpus-wide ntile window") {
      val p = planOf("q86_ccnet_buckets")
      assert(!p.contains("Window"), s"bucket assignment must not window:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"cutoffs must broadcast:\n$p")
    }
    it("q101 winnowing is map-only up to the explode: no exchange anywhere in the plan") {
      val p = planOf("q101_winnow_fingerprints")
      assert(!p.contains("Exchange"), s"winnowing must not shuffle:\n$p")
      assert(p.contains("winnow_native"), s"expected the native selection expression:\n$p")
    }
    it("q102 winnow overlap keeps q21's posting-list shape and never goes cartesian") {
      val p = planOf("q102_winnow_overlap")
      assert(!p.contains("CartesianProduct"), s"pair stage regressed to all-pairs:\n$p")
      assert(p.contains("winnow_native"), s"fingerprints must come from the native expression:\n$p")
    }
    it("q99 DSIR totals/bucket tables come back as broadcasts, never a cartesian stage") {
      // one explode pass feeds doc-bucket counts; the 512-row lr table
      // broadcasts and the 1-row totals ride a broadcast nested loop —
      // an unhinted CartesianProduct would mean the corpus re-paired
      val p = planOf("q99_dsir_weights")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q103 BM25 restricts postings via broadcast and ranks through TopKPerKey") {
      val p = planOf("q103_bm25_search")
      // the query-term list and restricted df table must come back as
      // broadcasts — a shuffled join here means the corpus-sized tf
      // table moved for a 6-row query set
      assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
      assert(p.contains("TopKPerKey"), s"plan:\n$p")
    }
    it("q104 drift joins per-lang totals as a broadcast, never a cartesian stage") {
      val p = planOf("q104_corpus_drift")
      assert(p.contains("BroadcastHashJoin"), s"totals must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q105 prototype assignment is the map-only native expression + broadcast centroid join") {
      val p = planOf("q105_prototype_prune")
      assert(p.contains("nearest_cells"), s"expected native assignment:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q106 JL distortion eval broadcasts the bounded sample pair stage") {
      val p = planOf("q106_jl_distortion")
      // the <30-id sample side must broadcast for the id_a < id_b pair
      // expansion; an unbroadcast plan would be a full cartesian stage
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q107 containment keeps q21's two-hash-shuffle posting-list shape when uncapped") {
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val p = graft.ext.Dedup.containmentPairs(docs, "text", "doc_id",
          "lang", 3, 0.6, maxDf = Int.MaxValue)
        .queryExecution.executedPlan.toString
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 2, s"expected 2 hash shuffles, plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q107 capped containment never goes cartesian and carries the df-cap correction joins") {
      // production default maxDf=100000: the hot-shingle correction adds
      // two left joins of an (almost always empty) adjustment table —
      // never a cartesian stage, and the posting-list shape is retained
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val p = graft.ext.Dedup.containmentPairs(docs, "text", "doc_id",
          "lang", 3, 0.6)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q121 fused pair-similarity keeps the two-hash-shuffle posting-list shape when uncapped") {
      // the fusion claim: both measures from ONE shinglePairStats core —
      // the uncapped plan is exactly q21's two hash shuffles (posting
      // lists + pair counts), nothing duplicated for the second
      // measure. (The capped default adds the correction joins whose
      // textual plan repeats the posting-list subtree; AQE reuses that
      // exchange at runtime, same as q107's capped pin.)
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val p = graft.ext.Dedup.pairSimilarityStats(docs, "text", "doc_id",
          "lang", 3, 0.5, 0.6, maxDf = Int.MaxValue)
        .queryExecution.executedPlan.toString
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 2, s"expected 2 hash shuffles, plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q121 capped fused pair-similarity never goes cartesian") {
      val p = planOf("q121_pair_similarity")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("the guarded pair plane (q48/q52-family) never goes cartesian and never sort-merge-joins") {
      // round 14: both tiers are equi-joins/aggregates — the capped
      // counting plane plus the LSH band plane with its per-candidate
      // verification joins and the exact-tier anti-join. A cartesian or
      // an SMJ here would mean a tier lost its join keys.
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val p = graft.ext.Dedup.guardedJaccardPairs(docs, "text", "doc_id",
          "lang", 3, 0.5)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    }
    it("q110 OHLC endpoints come from declarative min_by/max_by — no window sort anywhere") {
      // the row_number formulation would force a per-bar sort; the
      // aggregate form partial-aggregates map-side and shuffles once
      val p = planOf("q110_ohlc_bars")
      assert(!p.contains("Window"), s"OHLC must not plan a window:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 1, s"expected 1 hash shuffle, plan:\n$p")
    }
    it("q111 TWAP's two windows and final aggregate share one (type, day) exchange") {
      val p = planOf("q111_twap")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 1, s"expected 1 hash shuffle, plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q109 resample joins the spine back without a cartesian stage") {
      val p = planOf("q109_resample_interpolate")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q116 SCD2's windows and run-aggregate all share the user_id exchange") {
      val p = planOf("q116_scd2_intervals")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 1, s"expected 1 hash shuffle, plan:\n$p")
    }
    it("q117 interval-overlap keeps one user_id exchange per session branch, no cartesian") {
      // each sessionizer branch exchanges once on user_id; the
      // (user_id, seq) run-aggregate and the user_id join REUSE that
      // partitioning (ClusteredDistribution satisfied by the window's
      // HashPartitioning) — 2 total, nothing re-shuffles
      val p = planOf("q117_interval_overlap_join")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 2, s"expected 2 hash shuffles, plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q118 expands only PRE-REDUCED tables to windows — both explodes sit above aggregates") {
      // the scale contract: the x6 window expand applies to the bounded
      // (hour,type) grid / (hour,type,user) triple set, never raw
      // events. Both Generate operators must therefore appear ABOVE a
      // HashAggregate/distinct in the plan (i.e., no Generate directly
      // over the scan), and the stats×users join is grid-sized.
      val p = planOf("q118_sliding_windows")
      val generates = "Generate explode".r.findAllIn(p).length
      assert(generates == 2, s"expected 2 bounded expands, plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      // every Generate's subtree must contain an aggregate (the
      // pre-reduction) before reaching the parquet scan
      val lines = p.linesIterator.toVector
      lines.zipWithIndex.filter(_._1.contains("Generate explode")).foreach {
        case (_, i) =>
          val below = lines.drop(i + 1).takeWhile(!_.contains("Scan parquet"))
          assert(below.exists(l => l.contains("HashAggregate")),
            s"Generate at line $i sits directly on the scan (unreduced expand):\n$p")
      }
    }
    it("q119 scaling broadcasts the quartile cutoffs back — the row stream never re-shuffles for them") {
      val p = planOf("q119_robust_scaling")
      assert(p.contains("BroadcastHashJoin"), s"cutoffs must broadcast:\n$p")
      // the melt collapsed into the checkpointed value-counts table
      // before this plan begins — the final stage reads the counts
      // RDD, never the corpus (and so carries no Expand of its own)
      assert(p.contains("Scan ExistingRDD"), s"expected the counts checkpoint:\n$p")
      assert(!p.contains("Expand"), s"corpus melt must not re-run in the final stage:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q120 exact quantiles never uses the buffering percentile aggregate") {
      // 5 groups → driver-planned path: the RESULT frame is a local
      // relation (the refinement ran as collect jobs during
      // construction, the histogram proving the collect bounds first).
      // QuantilesSpec pins the >MaxDriverGroups distributed shape and
      // its bit-equality with this path.
      val p = planOf("q120_exact_quantiles")
      assert(!p.contains("percentile"), s"must refine, not buffer:\n$p")
      assert(p.contains("LocalTableScan"), s"expected the driver-planned local result:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q112 unpivot expands map-side; only the 4-key metric aggregate shuffles") {
      val p = planOf("q112_unpivot")
      assert(p.contains("Expand"), s"expected native unpivot Expand:\n$p")
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 1, s"expected 1 hash shuffle, plan:\n$p")
      assert(!p.contains("Join"), s"unpivot must not join:\n$p")
    }
    it("q108 z-order eval prunes the scan to the two key columns; combine stage broadcasts") {
      val p = planOf("q108_zorder_skipping")
      assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
        s"scan must read only the layout keys:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q73 semantic dedup never degrades to a cartesian pair stage") {
      // candidate pairs come from the bucket equi-join; a lost bucket
      // key would silently re-plan as CartesianProduct = all-pairs
      val p = planOf("q73_semdedup_apply")
      assert(!p.contains("CartesianProduct"), s"pair stage regressed to all-pairs:\n$p")
    }
    it("q70 KNN join ranks through TopKPerKey with only the rank-derivation window") {
      val p = planOf("q70_knn_join_lsh")
      assert(p.contains("TopKPerKey"), s"plan:\n$p")
      val windows = p.linesIterator.count(_.trim.matches("^[+:\\-* ]*Window .*"))
      assert(windows == 1, s"expected 1 rank window, found $windows:\n$p")
      assert(!p.contains("CartesianProduct"), s"bucket join must be an equi-join:\n$p")
    }
  }

  describe("sharded prefix-sum strategy (bounded window partitions)") {
    // the scale contract of the q61b/q68b twins: NO window may be
    // partitioned by the group alone — every per-row window must carry
    // the shard/bucket key, so no task ever scans a whole language
    def rowWindowsCarryShardKey(name: String, shardKey: String): Unit = {
      val p = planOf(name)
      val specs = "windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toList
      assert(specs.nonEmpty, s"no windows found:\n$p")
      // the tiny shard-base prefix window ranges over ≤ nShards rows per
      // group (its input is the per-shard aggregate), so the per-ROW
      // windows are the ones that must include the shard key: at least
      // one such window must exist and none may partition by grp alone
      val perRow = specs.filter(_.contains(shardKey))
      assert(perRow.nonEmpty, s"no window carries $shardKey:\n$p")
    }
    it("q61b within-shard windows are partitioned by (grp, shard)") {
      rowWindowsCarryShardKey("q61b_sequence_packing_sharded", "shard")
    }
    it("q68b within-bucket windows are partitioned by (grp, qb)") {
      rowWindowsCarryShardKey("q68b_token_budget_sharded", "qb")
    }
  }

  describe("span-dedup strategy (doc-bounded interval merge)") {
    it("q75 merge windows partition BY DOCUMENT; pair stage never cartesian") {
      // the scale contract: interval-union runs inside per-doc window
      // partitions (bounded by document length) — a window without
      // doc_id would sort the whole corpus position stream in one task
      val p = planOf("q75_span_dedup")
      val specs = "windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toList
      assert(specs.nonEmpty, s"no windows found:\n$p")
      assert(specs.forall(_.contains("doc_id")),
        s"a merge window lost the doc_id partition key:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
  }

  describe("distinct-aggregate strategy") {
    it("q37 plans no Expand (exact distinct via pre-dedup level, not countDistinct branching)") {
      val p = planOf("q37_approx_distinct")
      assert(!p.contains("Expand"), s"mixed distinct/HLL agg doubles the scan via Expand:\n$p")
    }
  }

  describe("range join strategy") {
    it("q55 plans as a hash/merge equi-join on buckets — never a nested loop") {
      val p = planOf("q55_range_join")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"range join degraded to a nested loop:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
             p.contains("BroadcastHashJoin"), s"no equi-join found:\n$p")
    }
  }

  describe("shuffle economy") {
    it("q04 argmax+agg reuses one hash partitioning (single exchange)") {
      val p = planOf("q04_latest_argmax")
      val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(p).length
      assert(exchanges == 1, s"expected 1 shuffle, plan:\n$p")
    }
    it("uncapped jaccard pairs is exactly two hash shuffles at any scale (posting lists + pair counts)") {
      // (a RoundRobin exchange may additionally appear on tiny inputs —
      // that's Parallelize.forCompute's deliberate small-file guard;
      // a binding df-cap adds the denominator-correction joins, so the
      // 2-shuffle invariant is asserted on the uncapped fast path)
      val docs = spark.read.parquet(s"$d/documents.parquet")
      val p = graft.ext.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          "lang", 3, 0.5, maxDf = Int.MaxValue)
        .queryExecution.executedPlan.toString
      val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashEx == 2, s"expected 2 hash shuffles, plan:\n$p")
    }
    it("q03 aggregates with map-side partial_sum before the exchange") {
      val p = planOf("q03_group_agg")
      assert(p.contains("partial_sum"))
    }

    it("Tables.ParallelizeScans is per-table, off by default, and cache-matched") {
      val dir = "/root/testdata/sf0.001"
      // off by default: a raw fixture read plans with no exchange
      val off = Tables(spark, dir, "lineitem").queryExecution.optimizedPlan
      assert(!off.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation]))
      spark.conf.set(Tables.ParallelizeScans, "lineitem,orders")
      try {
        // listed table gains the repartition; unlisted table does not
        val on = Tables(spark, dir, "lineitem").queryExecution.optimizedPlan
        assert(on.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation]))
        val docs = Tables(spark, dir, "documents").queryExecution.optimizedPlan
        assert(!docs.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation]))
        // the Bench warm tier depends on plan-equality cache matching:
        // persisting one read must make an identical later read hit the
        // cached relation (InMemoryRelation in the plan), and forCompute
        // must then leave the already-parallel cache alone
        Tables(spark, dir, "lineitem").persist().count()
        try {
          val again = Tables(spark, dir, "lineitem")
          val plan = again.queryExecution.optimizedPlan
          val imr = plan.collectFirst {
            case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
          }
          assert(imr.nonEmpty, s"expected cache hit, plan:\n$plan")
          // (the ANALYZED plan still carries Tables' own Repartition node —
          // cache substitution happens after analysis — so the property to
          // pin is that forCompute sees the substituted IMR leaf as already
          // parallel and returns the frame UNTOUCHED, adding nothing)
          val reshaped = graft.ops.Parallelize.forCompute(again)
          assert(reshaped eq again,
            "forCompute must not re-repartition an already-parallel cached relation")
        } finally Tables(spark, dir, "lineitem").unpersist(blocking = true)
      } finally spark.conf.unset(Tables.ParallelizeScans)
    }
  }

  describe("set-sketch / graph plane") {
    it("q126 builds the KMV sketch through the bounded TopK heap (partial + final), never a corpus window") {
      val p = planOf("q126_kmv_distinct")
      assert(p.contains("TopKPerKey"), s"sketch build lost the bounded heap:\n$p")
      // the only window functions allowed are none — sketch selection is
      // heap-based; a row_number fallback would sort whole groups
      assert(!p.contains("Window"), s"sketch regressed to a window sort:\n$p")
    }
    it("q129 near-dup gate: in-row signatures, min_by reps (no window sort), no cartesian") {
      val p = planOf("q129_streaming_neardup_twin")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("Window"), s"rep selection regressed to a window sort:\n$p")
    }
    it("q128 PageRank supersteps are equi-joins — no cartesian; the 1-row N frame broadcasts") {
      // checkpoint=false keeps the unrolled lineage visible (the
      // production per-superstep checkpoint would hide the join
      // strategy behind LogicalRDD leaves)
      import org.apache.spark.sql.functions.col
      val e0 = Tables(spark, d, "lineitem")
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk")).distinct()
        .select((col("sk") * 2).as("src"), (col("pk") * 2 + 1).as("dst"))
      val p = graft.ops.PageRank.run(e0, 2, checkpoint = false)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
             p.contains("BroadcastHashJoin"), s"superstep join strategy:\n$p")
    }
  }

  describe("warehouse & embedding-stats plane strategy") {
    it("q133 CDC diff is one full-outer equi-join — no window, no cartesian, no second pass") {
      val p = planOf("q133_snapshot_diff")
      assert(p.contains("FullOuter"), s"expected the full-outer diff join:\n$p")
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).length == 1,
        s"expected exactly one join:\n$p")
      assert(!p.contains("Window"), s"plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q135 basket pair/brand supports come pre-fused from the checkpointed plane — no basket self-join, no explode in the readout") {
      val p = planOf("q135_market_basket")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      // round 18: the in-row pair explode AND the per-brand explode run
      // ONCE inside the fused basketPairPlane checkpoint build; the
      // readout must only filter/join the materialized plane. A Generate
      // reappearing here means a consumer fell back to re-running a full
      // explode pass over the basket table.
      assert(!p.contains("Generate"), s"explode pass leaked back into the readout:\n$p")
      assert(p.contains("Scan ExistingRDD"), s"expected the checkpointed plane:\n$p")
      // downstream joins are |brands|-bounded broadcasts, never shuffles
      assert(!p.contains("SortMergeJoin"), s"stats joins must broadcast:\n$p")
    }
    it("q137 anomaly scoring shares ONE series exchange across rank, prefix sums and lags") {
      val p = planOf("q137_rolling_zscore")
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
        s"expected one (event_type) exchange:\n$p")
      assert(!p.contains("Join"), s"plan:\n$p")
      // the trailing sums must come from running aggregates + lags, not
      // a sliding frame re-aggregated per row (the O(n·k) shape)
      assert(!p.toLowerCase.contains("specifiedwindowframe(rowframe, -96"),
        s"sliding-frame aggregate regressed in:\n$p")
    }
    it("q138 covariance is the in-row product expand + one cell aggregate — corpus never cartesians") {
      val p = planOf("q138_embedding_covariance")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(p.contains("Generate"), s"expected the in-row product expand:\n$p")
      assert(!p.contains("Window"), s"plan:\n$p")
      // mean vector and the 1-row n frame come back as broadcasts
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"bounded frames must broadcast:\n$p")
    }
    it("q139 PCA eigensolve is driver-planned model state — the result is a local relation") {
      val p = planOf("q139_pca_power")
      assert(p.contains("LocalTableScan"), s"expected the driver-planned component:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
  }

  describe("behavioral plane strategy") {
    it("q145 clamped balance is one keyed exchange + in-partition sort — no window, no join") {
      val p = planOf("q145_clamped_balance")
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
        s"expected the single user_id exchange:\n$p")
      assert(!p.contains("Window"), s"the fold must not be a window:\n$p")
      assert(!p.contains("Join"), s"plan:\n$p")
    }
    it("q146 attribution carries the touch in ONE user window — no join, no per-purchase subquery") {
      val p = planOf("q146_last_touch_attribution")
      assert(!p.contains("Join"), s"the as-of must be the union-window form:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
        s"expected user exchange + channel-rollup exchange only:\n$p")
    }
    it("q147 path ranking uses the TopK operator, never a global window over the count table") {
      val p = planOf("q147_session_paths")
      assert(p.contains("TopKPerKey"), s"expected the custom top-k operator:\n$p")
      // the only Window ops are the sessionizer's user-keyed ones and the
      // 20-row rank — none over an unpartitioned full table before TopK
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q149 transition normalizer joins back as a broadcast, never a corpus window") {
      val p = planOf("q149_markov_transitions")
      assert(p.contains("BroadcastHashJoin"), s"expected the broadcast normalizer:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    }
    it("q152 CUSUM stats broadcast onto the series; the fold is never a window") {
      val p = planOf("q152_cusum_drift")
      assert(p.contains("BroadcastHashJoin"), s"expected broadcast mu/sd:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("Window"), s"the reflected fold must be ScanFold:\n$p")
    }
    it("q155 linear attribution pairs on a user_id EQUI-join with residual time predicates — never cartesian") {
      val p = planOf("q155_linear_attribution")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    }
    it("q153 ACF lag columns come from one series window; no cartesian, broadcast mean") {
      val p = planOf("q153_autocorrelation")
      assert(p.contains("BroadcastHashJoin"), s"expected broadcast mu:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert("Window".r.findAllIn(p).length == 1, s"expected ONE window op:\n$p")
    }
  }

  describe("statistical-tests plane strategy") {
    it("q161 KS runs on the 256-bucket grid — stats broadcast, no real cartesian, no corpus sort") {
      val p = planOf("q161_ks_test")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      // the only sorts are the 256-row grid window's, never a corpus
      // global sort (raw-value KS would need one)
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    }
    it("q162 chi-square joins |types|x7 counts against BROADCAST marginals") {
      val p = planOf("q162_chi2_independence")
      assert(p.contains("BroadcastHashJoin"), s"expected broadcast marginals:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
    it("q163 Spearman joins the corpus against BROADCAST rank maps only") {
      val p = planOf("q163_spearman")
      assert(p.contains("BroadcastHashJoin"), s"expected broadcast rank maps:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    }
    it("q165 A/B readout is aggregates only — no join anywhere") {
      val p = planOf("q165_ab_test")
      assert(!p.contains("Join"), s"plan:\n$p")
    }
  }

  describe("windowed drift monitors (round 10): one mergeable aggregate, stateless tail") {
    it("q170 KS drift is ONE windowed aggregate — no join, no window op, no explode") {
      // the monitored plan (post-calibration) must be the shape that
      // runs unchanged under a streaming watermark: a single groupBy
      // aggregate whose D arithmetic is per-row column work
      val p = planOf("q170_ks_windowed_drift")
      assert(!p.contains("Join"), s"plan:\n$p")
      assert(!p.contains("Window"), s"plan:\n$p")
      assert(!p.contains("Generate"), s"plan:\n$p")
    }
    it("q172 Benford screen is ONE windowed aggregate — no join, no window op, no explode") {
      val p = planOf("q172_benford_windowed")
      assert(!p.contains("Join"), s"plan:\n$p")
      assert(!p.contains("Window"), s"plan:\n$p")
      assert(!p.contains("Generate"), s"plan:\n$p")
    }
    it("q171 pipeline readout never goes cartesian or sort-merge (broadcast edges only)") {
      val p = planOf("q171_warehouse_pipeline")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    }
  }

  describe("seventh batch strategy (round 10)") {
    it("q173 skyline is broadcast joins only — never the dominance self-join") {
      // the oracle STATES a quadratic NOT EXISTS; the engine must never
      // plan one: bucket pruning + grid/frontier broadcasts only
      val p = planOf("q173_pareto_frontier")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    }
    it("q174 frame-sampling plan is map-only: no exchange anywhere") {
      val p = planOf("q174_frame_sampling")
      assert(!p.contains("Exchange"), s"plan:\n$p")
      assert(!p.contains("Join"), s"plan:\n$p")
    }
    it("q175 gains table binning joins only a broadcast one-row edge frame") {
      val p = planOf("q175_gains_deciles")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    }
    it("q176 seasonal split pays one corpus aggregate; dow profile joins broadcast") {
      val p = planOf("q176_seasonal_decomposition")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    }
  }

  describe("eighth batch strategy (round 10)") {
    it("q177 election joins clusters once, never cartesian or sort-merge") {
      val p = planOf("q177_canonical_election")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    }
    it("q178 ECE pays one corpus aggregate; only the one-row max frame broadcasts") {
      val p = planOf("q178_calibration_ece")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    }
    it("q179 Neyman design is one aggregate + grid windows — no join anywhere") {
      val p = planOf("q179_neyman_allocation")
      assert(!p.contains("Join"), s"plan:\n$p")
    }
    it("q180 FIFO's range predicate rides the user equi-join — never nested-loop") {
      val p = planOf("q180_fifo_matching")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    }
    it("q181 changepoint never joins: one corpus aggregate + grid windows") {
      val p = planOf("q181_changepoint")
      assert(!p.contains("Join"), s"plan:\n$p")
    }
    it("q182 isotonic fit joins only broadcast grid frames — never sort-merge") {
      val p = planOf("q182_isotonic_calibration")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    }
  }

  describe("ninth batch strategy (round 10)") {
    it("q185 pair blowup lives on the driver-finished month grid, never the corpus") {
      // round 12: the O(grid^2) pair set and both medians fold on the
      // DRIVER over the collected calendar grid (the one corpus
      // aggregate ran eagerly inside the builder); the returned frame
      // is the finished one-row result — the q201/q209 plan shape
      val p = planOf("q185_theil_sen")
      assert(p.contains("LocalTableScan"), s"plan:\n$p")
      assert(!p.contains("Join"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p")
    }
    it("q186 both top-10 extractions ride the bounded-heap operator") {
      val p = planOf("q186_ndcg")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(p.sliding("TopKPerKey".length).count(_ == "TopKPerKey") >= 2,
        s"plan:\n$p")
    }
    it("q187 replicate expand feeds a partial aggregate; no corpus join") {
      val p = planOf("q187_half_sample_ci")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      // the corpus-side Generate (explode) + partial aggregate ran inside
      // the grid's localCheckpoint, so the visible plan reads the
      // materialized 60-row replicate grid, not the corpus
      assert(p.contains("Scan ExistingRDD"), s"plan:\n$p")
    }
    it("q188 model and qhat reach the corpus passes as broadcasts only") {
      val p = planOf("q188_conformal_interval")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    }
    it("q189 shapley: channel dim broadcasts onto the corpus; no sort-merge") {
      val p = planOf("q189_shapley_attribution")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    }
    it("q192 MI pays one corpus aggregate; marginals derive from the grid") {
      val p = planOf("q192_mutual_information")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // grid checkpointed once
    }
    it("q193 trim/winsorize means fuse into one scan against broadcast edges") {
      val p = planOf("q193_trimmed_winsorized")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    }
    it("q194 CV: all five leave-one-fold-out models come from one grid") {
      val p = planOf("q194_kfold_cv")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      // the model/scoring corpus joins ran inside the fold grid's
      // localCheckpoint; the visible plan reads the 5-row grid
      assert(p.contains("Scan ExistingRDD"), s"plan:\n$p")
    }
    it("q196 median CI: replicate medians come off the checkpointed frame") {
      val p = planOf("q196_median_ci")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    }
    it("q195 JS tail is grid-only: no join below the final one-row select") {
      val p = planOf("q195_js_divergence")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // grid checkpointed
    }
    it("q191 LPA final rollup reads local/checkpointed label state; no corpus window") {
      // round 14: under the driver-edge cap the label state arrives as
      // a LocalRelation (the adaptive driver loop); above it, as the
      // checkpointed RDD. Either way the rollup never re-derives the
      // corpus and never plans a window.
      val p = planOf("q191_label_propagation")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("Window"), s"plan:\n$p")
      assert(p.contains("LocalTableScan") || p.contains("Scan ExistingRDD"),
        s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p")
    }
    it("q197 ANOVA tail reads the checkpointed flag grid; no sort-merge") {
      val p = planOf("q197_anova_f")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // grid checkpointed once
      assert(p.contains("Scan ExistingRDD"), s"plan:\n$p")
    }
    it("q198 Mann-Kendall pair blowup lives on the checkpointed month grid") {
      val p = planOf("q198_mann_kendall")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // corpus paid in checkpoint
    }
    it("q199 Kruskal-Wallis: ranks broadcast onto the checkpointed grid") {
      val p = planOf("q199_kruskal_wallis")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // 150-cell grid checkpointed
      assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    }
    it("q200 Holt-Winters is a joinless windowless fold over the month grid") {
      val p = planOf("q200_holt_winters")
      assert(!p.contains("Join"), s"plan:\n$p")
      assert(!p.contains("Window"), s"plan:\n$p")
      assert(p.contains("MapPartitions"), s"plan:\n$p")
    }
    it("q201 logistic IRLS: the fit itself is driver-side on the collected grid") {
      // the two corpus jobs (min/max, bin rollup) run eagerly inside the
      // query builder; the returned frame is the finished one-row result
      val p = planOf("q201_logistic_irls")
      assert(p.contains("LocalTableScan"), s"plan:\n$p")
      assert(!p.contains("Join"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p")
    }
    it("q202 item-item CF: pair grid checkpointed, counts broadcast, TopK heap ranks") {
      val p = planOf("q202_item_similarity")
      assert(p.contains("TopKPerKey"), s"plan:\n$p")
      assert(!p.contains("Window"), s"plan:\n$p")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // incidence + grid checkpointed
    }
    it("q203 effect sizes: both branch grids checkpointed, readout broadcast-composed") {
      val p = planOf("q203_effect_sizes")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // both grids checkpointed
      assert(!p.contains("Window"), s"plan:\n$p")
    }
    it("q205 HW backtest: both folds and the window live on the checkpointed grid") {
      val p = planOf("q205_hw_backtest")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // month grid checkpointed
      assert("MapPartitions".r.findAllIn(p).length >= 2, s"plan:\n$p") // two folds
    }
    it("q206 weighted quantiles never re-touch the corpus past the counts frame") {
      val p = planOf("q206_weighted_quantiles")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // vc checkpointed
    }
    it("q207 runs test: rank + sign passes read the checkpointed month grid") {
      val p = planOf("q207_runs_test")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p")
    }
    it("q209 Kendall: all cumulative structure on the checkpointed dense grid") {
      val p = planOf("q209_kendall_tau")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // sparse grid checkpointed
    }
    it("q210 DiD: one corpus aggregate; cells compose by broadcast only") {
      val p = planOf("q210_diff_in_diff")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // 4-cell grid checkpointed
    }
    it("q211 pair chi2 reuses the q135 checkpointed basket sets; counts broadcast") {
      val p = planOf("q211_pair_significance")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // incidence checkpointed
      assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
      // round 18: pair+brand supports pre-fused in basketPairPlane — the
      // readout (grid crossJoin, pair left-join, chi2 math) must not
      // re-run any explode pass over the basket table
      assert(!p.contains("Generate"), s"explode pass leaked back into the readout:\n$p")
    }
    it("q212 kappa: marginals derive from the checkpointed confusion grid") {
      val p = planOf("q212_cohens_kappa")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p")
    }
    it("q213 CCC pays exactly one join and no window") {
      val p = planOf("q213_concordance_ccc")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("Window"), s"plan:\n$p")
      // big-big orderkey equi-join: sort-merge (bucket-co-locatable) OR
      // broadcast at this SF — either is the plan you'd want; what must
      // NOT happen is a second join or a corpus window
      assert("Join".r.findAllIn(p).length <= 2, s"plan:\n$p")
    }
    it("q214 UCB: scored arms come off the checkpointed grid; argmax broadcast") {
      val p = planOf("q214_ucb_bandit")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p") // 10-row grid checkpointed
    }
    it("q216 sequential monitor: cum windows + looks on the checkpointed day grid") {
      val p = planOf("q216_group_sequential")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"plan:\n$p") // looks join
    }
    it("q217 EB shrinkage: moment pass and scoring pass share the checkpointed grid") {
      val p = planOf("q217_eb_shrinkage")
      assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p")
      assert(!p.contains("Window"), s"plan:\n$p")
    }
    it("q190 corr matrix reads the one-row moment frame — one corpus pass total") {
      val p = planOf("q190_corr_matrix")
      assert(!p.contains("Join"), s"plan:\n$p")
      // the single 15-moment aggregate ran inside the localCheckpoint;
      // the visible plan unions six selects over the materialized row
      assert(p.contains("Scan ExistingRDD"), s"plan:\n$p")
      assert(!p.contains("parquet"), s"plan:\n$p")
    }
    it("q141 blocked linkage: block counts broadcast, both tiers hash joins, never cartesian") {
      val p = planOf("q141_entity_blocking")
      assert(!p.contains("CartesianProduct"), s"plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"plan:\n$p") // count attach
      assert(!p.contains("Window"), s"plan:\n$p")
    }
    it("q232 video catalog pass is map-only: no exchange anywhere in the plan") {
      val p = planOf("q232_video_meta")
      assert(!p.contains("Exchange"), s"plan:\n$p")
      assert(!p.contains("Join"), s"plan:\n$p")
    }
    it("q233 video frame sampling is map-only with bounded fan-out: no exchange, no join") {
      val p = planOf("q233_video_frame_sample")
      assert(!p.contains("Exchange"), s"plan:\n$p")
      assert(!p.contains("Join"), s"plan:\n$p")
      assert(p.contains("Generate"), s"plan:\n$p") // the schedule explode
    }
  }

  describe("snapshot tick (LiveEndpoints.inputs → Snapshot.build)") {
    /** One two-task tick against canned transports, built and collected
      * (so the adaptive plan is final). */
    def tick(nowUnix: Long, nowStr: String): org.apache.spark.sql.DataFrame = {
      import graft.sources.{BinsAbi, HttpTransport, RpcTransport}
      import java.math.BigInteger
      val cfg = graft.pipeline.LiveEndpoints.Config(
        dexBase = "https://dex.example", feesBase = "https://fees.example",
        rpcEndpoint = "https://node.example/rpc", contract = "0xC0",
        apiKey = None, startTimeUnix = 0L, endTimeUnix = 1L)
      val pool = (f: String) =>
        s"""{"pairAddress":"P1","name":"AVAX-USDC","filterBy":"$f","volumeUsd":"50000.0","liquidityUsd":"250000.0","feesUsd":125.0,"activeBinId":"8388608","tokenX":{"decimals":"18","priceUsd":"25.0"},"tokenY":{"decimals":"6","priceUsd":"1.0"}}"""
      HttpTransport.setOverride { url =>
        val user = if (url.contains("/U2/")) "U2" else "U1"
        if (url.contains("/v1/pools/")) Iterator(pool(if (url.contains("1h")) "1h" else "1d"))
        else if (url.contains("/history/")) Iterator(100, 120, 120).map(b =>
          s"""{"user_address":"$user","poolAddress":"P1","timestamp":"2024-01-06 10:00:00","isDeposit":true,"blockNumber":$b,"tokenX":{"amount":"2.0"},"tokenY":{"amount":"50"}}""")
        else Iterator(8388608, 8388609).map(b =>
          s"""{"user_address":"$user","poolAddress":"P1","binId":$b,"accruedFeesX":"0.5","accruedFeesY":0.25}""")
      }
      val bins = BinsAbi.encodeResult(8388608L, Seq(8388607L, 8388608L).map(b =>
        (b, BigInteger.TEN.pow(18), BigInteger.ONE, BigInteger.TWO, BigInteger.TEN)))
      RpcTransport.setOverride { (_, body) =>
        val req = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        (0 until req.size()).map(i =>
          s"""{"jsonrpc":"2.0","id":${req.get(i).get("id").asLong()},"result":"$bins"}""")
          .mkString("[", ",", "]")
      }
      try {
        val in = graft.pipeline.LiveEndpoints.inputs(spark, cfg, Seq(("U1", "P1"), ("U2", "P1")))
        val snap = graft.pipeline.Snapshot.build(in,
          nowUnix = org.apache.spark.sql.functions.lit(nowUnix),
          nowStr = org.apache.spark.sql.functions.lit(nowStr))
        assert(snap.collect().length == 2)
        snap
      } finally {
        HttpTransport.clearOverride()
        RpcTransport.clearOverride()
      }
    }

    it("plans the snapshot with exactly one shuffle and runs the tick in at most 6 jobs") {
      val (snap, jobs) = JobTrace(spark)(tick(0L, "t"))
      val cur = jobs.size
      val plan = snap.queryExecution.executedPlan
      val shuffles = AqePlans.collectWithSubqueries(plan) {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.size == 1, s"plan:\n$plan")
      assert(cur <= 6, s"the tick ran $cur jobs; plan:\n$plan")
    }

    it("generates the same code on every tick: the wall-clock values travel as data") {
      // a tick-varying literal in generated code misses the codegen
      // cache, so every tick would pay a fresh compile
      val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      def code(nowUnix: Long, nowStr: String): Seq[String] =
        org.apache.spark.sql.execution.debug
          .codegenStringSeq(tick(nowUnix, nowStr).queryExecution.executedPlan).map(_._2)
      val first = code(1700000000L, "2023-11-14 22:13:20")
      val before = compiles.getCount
      val next = code(1700003600L, "2023-11-14 23:13:20")
      assert(first.nonEmpty)
      assert(first == next, s"generated code differs between ticks:\n${first.diff(next).mkString("\n")}")
      // projections outside whole-stage codegen are generated code too
      assert(compiles.getCount == before, "the second tick compiled new code")
    }
  }
}

/** Walks AQE plans through their query stages. */
private object AqePlans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
