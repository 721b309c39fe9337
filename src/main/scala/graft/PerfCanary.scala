package graft

/** Single source of truth for the weak-set regression canaries (with
  * the ceilings duplicated in Bench.scala and PerfCanarySpec, a
  * re-measured floor could silently drift out of sync with one of the
  * two maps).
  *
  * Two complementary halves, both reading THIS object:
  *  - [[jobCeilings]] — exact scheduler job counts PerfCanarySpec pins
  *    at sf0.01 (deterministic: plan-structural, not load-dependent);
  *  - [[wallClockCeilings]] — recorded isolated sf0.1 minima that
  *    Bench compares driver runs against at ×1.5, loud in the
  *    committed artifact.
  *
  * Ceilings are the observed shipped-build numbers — NOT observed +
  * slack: a single extra job is a real floor regression on queries
  * this shape. If a deliberate plan change moves a count, re-measure
  * it with `graft.Profile` and re-pin it here WITH the bench number
  * that justifies it.
  */
object PerfCanary {

  /** Exact scheduler job counts, measured by [[JobTrace]] over the
    * full query lifecycle (construction + noop write — driver-planned
    * collects and future-submitted audit jobs INCLUDED, which job-group
    * counting misses from pooled threads) at sf0.01, AQE on, local[4];
    * three traced runs of [[Profile]] agreed to the job. These are
    * SCHEDULER jobs — AQE materializes each exchange stage and
    * broadcast build as its own job — so they sit above the QueryDef
    * docs' corpus-pass ledgers, but they move in the same direction
    * and by at least one whenever a pass is re-added, which is the
    * regression guarded.
    *
    * The guarded-dedup five (q48/q121/q125/q177/q184) share q52's
    * tier-skip machinery: the LSH tier's jobs must NOT appear while the
    * df budget never binds at sf0.01 — silent re-enablement is the
    * single most expensive possible regression (it filled the disk at
    * sf10 once). */
  val jobCeilings: Map[String, Int] = Map(
    "q82_column_profile"      -> 14, // 6 union branches × 2-level distinct
    "q119_robust_scaling"     -> 11, // melt groupBy + bit-bucket counts quantiles
    "q171_warehouse_pipeline" -> 19, // audit futures + the 4-link RFM chain
                                     // (anchor future + stats-free bit
                                     // quantiles)
    "q188_conformal_interval" -> 12, // model+ckpt, bit-histogram, fetch, test
    "q157_woe_iv"             -> 8,  // bit-bucket hist + fetch (2 corpus jobs)
    "q175_gains_deciles"      -> 6,  // same fusion, driver-finished tail
    // the other ops.Quantiles consumers: a silent fall off the
    // driver-planned path onto the distributed chain re-adds jobs
    "q120_exact_quantiles"    -> 12, // stats, histogram, fetch
    "q156_mad_outliers"       -> 7,  // one counts pass, driver medians
    "q168_ship_latency_quantiles" -> 6, // grid + one guarded collect
    "q169_rfm_segmentation"   -> 11, // bit histogram + fetch on the melt
    "q185_theil_sen"          -> 4,  // month grid, driver medians
    "q193_trimmed_winsorized" -> 15, // exactQuantiles edges + trim pass
    "q196_median_ci"          -> 8,  // bit-replicate stats/hist/fetch
    "q206_weighted_quantiles" -> 13, // counts frame, driver-planned
    // the two flicker members that also have a wall-clock ceiling
    "q163_spearman"           -> 13, // rank windows + corr grid chain
    "q187_half_sample_ci"     -> 8,  // 60-replicate BRR expand + CI tail
    // one corpus aggregate of 14 grid sums (Num.sum6) + a 1-row tail:
    // a stray action inside the sum kernel would add a job
    "q190_corr_matrix"        -> 4,
    // the triangle-census driver twin (edge build + cap probe +
    // collect; readout is a LocalRelation). A silent fallback
    // to the distributed BSP chain — e.g. a broken integral-id check —
    // re-adds ~12 scheduler jobs and fails here loudly
    "q142_triangle_count"     -> 8,
    "q144_local_clustering"   -> 8,
    // the PageRank and label-propagation driver twins (edge build +
    // cap probe + collect); a fallback to the BSP supersteps re-adds
    // jobs per iteration
    "q128_pagerank"           -> 7,
    "q191_label_propagation"  -> 8,
    // the guarded-dedup family: exact tier only at sf0.01
    "q52_dedup_apply"         -> 17,
    "q48_dedup_groups"        -> 13,
    "q121_pair_similarity"    -> 9,
    "q125_split_repair"       -> 13,
    "q177_canonical_election" -> 15,
    "q184_dedup_hops"         -> 13)

  /** Recorded isolated sf0.1 minima (seconds) on local[32] — see each
    * QueryDef's scale notes for the measurement context. Bench flags
    * any driver-run time above ceiling × 1.5 in the committed
    * artifact's `canary` field. */
  val wallClockCeilings: Map[String, Double] = Map(
    "q82_column_profile"      -> 1.25,
    "q119_robust_scaling"     -> 1.30,
    "q171_warehouse_pipeline" -> 1.10, // isolated min 1.078 on the
                                       // 4-link chain
    "q188_conformal_interval" -> 1.05,
    "q52_dedup_apply"         -> 1.10,
    // the rest of the ~1 s job-floor flicker family (FLOOR.md),
    // ceilings = the committed driver-window minima — the best
    // recorded quiet-window numbers for the shipped plans. A loaded
    // window can exceed ×1.5 (that is the flicker FLOOR.md records);
    // a QUIET-window violation is a real plan regression.
    "q157_woe_iv"             -> 0.58,
    "q163_spearman"           -> 0.86,
    "q175_gains_deciles"      -> 0.93,
    "q187_half_sample_ci"     -> 0.99,
    // the triangle driver twin's best recorded sf0.1 minima
    // (min-of-6 in a LOADED window). A NEAR-QUIET re-measure (load
    // <0.4 at start, isolated min-of-6): q142 1.542, q144 1.624 —
    // within 2–3% of these pins, so the loaded-window values were
    // already the quiet minima and the pins are TIGHT, not loose (no
    // ~35% silent-regression headroom). Pins kept at the best recorded
    // minima.
    "q142_triangle_count"     -> 1.51,
    "q144_local_clustering"   -> 1.59)
}
