package graft.queries

import graft.{QueryDef, Tables}
import graft.ext.Dedup
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.ops.Num._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-curation operators on top of the dedup/text plane: per-source
  * quotas, LM-proxy quality scoring, mixture reweighting, and the
  * end-to-end curation funnel a training-data pipeline actually runs.
  * Like the rest of the LLM plane these are pure DataFrame transforms
  * with portable (md5 / floor-rounded) numerics so every query is
  * hash-checkable against the DuckDB oracle.
  */
object CorpusOps {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  private def ph(expr: String, seed: Int) = TextFunctions.sql.portableHash(expr, seed)

  /** Portable 4-decimal rounding via plain IEEE ops (same construction
    * as [[TextFunctions.portableRound6]]): bit-identical across engines
    * for non-negative inputs, unlike round() whose tie-breaking differs
    * between Spark (exact decimal HALF_UP) and DuckDB (double math). */
  private def portableRound4(c: Column): Column = floor(c * 1e4 + 0.5) / 1e4

  /** Shared by q68 and its sharded twin q68b — identical oracle SQL is
    * the equivalence contract between the two plans. */
  private[queries] val q68OracleSql =
    s"""WITH ${LlmOps.textStatsCte}, b AS (SELECT d.doc_id, d.lang, q.n_tokens, q.quality FROM documents d JOIN q USING (doc_id)), c AS (SELECT lang, doc_id, n_tokens, quality, CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM b) SELECT lang, doc_id, n_tokens, quality, cum_tokens FROM c WHERE cum_tokens <= 5000"""

  /** Per-document unigram-LM mean surprisal with lang carried through —
    * the shared engine under q63 (which drops lang) and q86 (which
    * buckets by it). Surprisal per vocab term is rounded to 4 decimals
    * BEFORE the per-doc sum: the sum then runs on exact decimals
    * (order-independent), and ln's engine-specific last ulp is rounded
    * away; ln(N/c) >= 0 always (c <= N), so the floor-trick rounding's
    * non-negative precondition holds. */
  private def surprisalByDoc(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
    val vocab = tok.groupBy(col("tk")).agg(count(lit(1)).as("c"))
    val n = vocab.agg(sum(col("c")).as("n_total"))
    val lp = vocab.crossJoin(n).select(col("tk"),
      portableRound4(log(col("n_total").cast("double") / col("c"))).as("lp"))
    val perDoc = tok.join(lp, "tk")
      .groupBy(col("doc_id"))
      .agg(lcount(lit(1)).as("n_tokens"),
           (dsum(col("lp")) / count(lit(1))).as("m"))
    docs.select(col("doc_id"), col("lang")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        portableRound6(coalesce(col("m"), lit(0.0))).as("mean_surprisal"))
  }

  /** Oracle mirror of [[surprisalByDoc]], ending in the `sd` CTE. */
  private val surprisalCte =
    s"""tok AS (SELECT doc_id, unnest(${TextFunctions.sql.tokensOf("text")}) AS tk FROM documents), v AS (SELECT tk, count(*) AS c FROM tok GROUP BY 1), n AS (SELECT SUM(c) AS n_total FROM v), lp AS (SELECT tk, floor(ln(CAST(n_total AS DOUBLE) / c) * 1e4 + 0.5) / 1e4 AS lp FROM v CROSS JOIN n), pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(SUM(CAST(lp AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS m FROM tok JOIN lp USING (tk) GROUP BY 1), sd AS (SELECT d.doc_id, d.lang, COALESCE(pd.n_tokens, 0) AS n_tokens, floor(COALESCE(pd.m, 0.0) * 1e6 + 0.5) / 1e6 AS mean_surprisal FROM documents d LEFT JOIN pd USING (doc_id))"""

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q62_source_quota",
      "per-source document quotas (RefinedWeb-style per-domain cap): deterministic hash-ranked top-15 docs per source, selected through the bounded-heap TopKPerKey operator — no per-source window over the full corpus",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // rank by a seeded portable hash of the doc id: an unbiased,
        // reproducible per-source sample that needs no random state and
        // is stable under any partitioning. TopKPerKey keeps only 15
        // rows per source on the map side, so a hot domain with 10⁹
        // docs never materializes its full partition for a window sort;
        // the row_number below runs over ≤ 15 rows per source.
        val scored = t(s, d, "documents").select(col("doc_id"), col("source"),
          portableHash(col("doc_id").cast("string"), 11).as("h"))
        val top = graft.plans.TopK.perKey(scored, Seq(col("source")),
          Seq(col("h"), col("doc_id")), 15)
        top.withColumn("rk", row_number().over(
            Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id")))
            .cast("long"))
          .select(col("source"), col("doc_id"), col("rk"))
      },
      Some(s"""WITH r AS (SELECT source, doc_id, CAST(row_number() OVER (PARTITION BY source ORDER BY ${ph("CAST(doc_id AS VARCHAR)", 11)}, doc_id) AS BIGINT) AS rk FROM documents) SELECT source, doc_id, rk FROM r WHERE rk <= 15""")),

    QueryDef("q63_unigram_surprisal",
      "unigram-LM quality proxy (KenLM-style perplexity filter stand-in): corpus unigram probabilities, then per-document mean surprisal -ln p(token). Vocab joined by shuffle — at 100 TB the vocab is itself a large table, so no broadcast is assumed (AQE may still pick one at small scale)",
      (s, d) => surprisalByDoc(t(s, d, "documents")).drop("lang"),
      Some(s"""WITH $surprisalCte SELECT doc_id, n_tokens, mean_surprisal FROM sd""")),

    QueryDef("q86_ccnet_buckets",
      "CCNet-style perplexity bucketing (Wenzek et al. 2020): per-language head/middle/tail corpus split by unigram-LM mean-surprisal terciles. Faithful to CCNet's own shape: bucket assignment compares each doc against PRECOMPUTED per-lang cutoffs — a bounded |langs|-row exact-percentile aggregate broadcast back to the scan — NOT a corpus-wide ntile window (no unbounded per-lang sort at 100 TB). Cutoffs floor-rounded to 4 dp on both engines (q41's percentile parity + the portable rounding recipe)",
      (s, d) => {
        // sd feeds BOTH the threshold aggregate and the bucket
        // assignment — stage-checkpoint it once (the q65 pattern;
        // cluster twin = reliable checkpoint) instead of running the
        // token-explode + vocab-join pipeline twice
        val sd = surprisalByDoc(t(s, d, "documents")).localCheckpoint(true)
        val th = sd.groupBy(col("lang")).agg(
          portableRound4(expr("percentile(mean_surprisal, 0.3333333333333333)")).as("t1"),
          portableRound4(expr("percentile(mean_surprisal, 0.6666666666666666)")).as("t2"))
        val bucket = when(col("mean_surprisal") <= col("t1"), lit("head"))
          .when(col("mean_surprisal") <= col("t2"), lit("middle"))
          .otherwise(lit("tail"))
        sd.join(broadcast(th), Seq("lang"))
          .select(col("lang"), bucket.as("bucket"), col("mean_surprisal"))
          .groupBy(col("lang"), col("bucket"))
          .agg(lcount(lit(1)).as("n_docs"),
               min(col("mean_surprisal")).as("min_s"),
               max(col("mean_surprisal")).as("max_s"))
      },
      Some(s"""WITH $surprisalCte, th AS (SELECT lang, floor(quantile_cont(mean_surprisal, 0.3333333333333333) * 1e4 + 0.5) / 1e4 AS t1, floor(quantile_cont(mean_surprisal, 0.6666666666666666) * 1e4 + 0.5) / 1e4 AS t2 FROM sd GROUP BY 1), b AS (SELECT sd.lang, CASE WHEN mean_surprisal <= t1 THEN 'head' WHEN mean_surprisal <= t2 THEN 'middle' ELSE 'tail' END AS bucket, mean_surprisal FROM sd JOIN th USING (lang)) SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(mean_surprisal) AS min_s, MAX(mean_surprisal) AS max_s FROM b GROUP BY 1, 2""")),

    QueryDef("q97_split_assign",
      "deterministic train/val/test split assignment (80/10/10 by hashed doc key): split membership is a pure function of the data — reproducible across reruns, partitionings and cluster sizes, and new documents join a split without moving any existing one (the property df.randomSplit lacks). Map-only assignment; per-(lang, split) doc and token totals",
      (s, d) => {
        val bucket = pmod(portableHash(col("doc_id").cast("string"), 23), lit(100))
        val split = when(bucket < 80, lit("train"))
          .when(bucket < 90, lit("val")).otherwise(lit("test"))
        t(s, d, "documents")
          .select(col("lang"), split.as("split"),
                  tokenCount(col("text")).as("n_tokens"))
          .groupBy(col("lang"), col("split"))
          .agg(lcount(lit(1)).as("n_docs"), lsum(col("n_tokens")).as("n_tokens"))
      },
      Some(s"""WITH b AS (SELECT lang, CASE WHEN ${ph("CAST(doc_id AS VARCHAR)", 23)} % 100 < 80 THEN 'train' WHEN ${ph("CAST(doc_id AS VARCHAR)", 23)} % 100 < 90 THEN 'val' ELSE 'test' END AS split, CAST(len(${TextFunctions.sql.tokensOf("text")}) AS BIGINT) AS n_tokens FROM documents) SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM b GROUP BY 1, 2""")),

    QueryDef("q98_split_leakage",
      "cross-split near-dup leakage audit (the contamination mode q53's explicit-benchmark scan cannot see, and the motivation of Lee et al.'s dedup work: near-duplicates straddling the train/test boundary leak evaluation data into training). Composes q97's deterministic split with q22's MinHash-LSH pair detection: n_pairs, how many cross a split boundary, and the cross fraction. At 100 TB this runs on the LSH candidate plane — no all-pairs stage",
      (s, d) => {
        val docs = t(s, d, "documents")
        val bucket = pmod(portableHash(col("doc_id").cast("string"), 23), lit(100))
        val split = when(bucket < 80, lit("train"))
          .when(bucket < 90, lit("val")).otherwise(lit("test"))
        val splits = docs.select(col("doc_id"), split.as("split"))
        val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id", "lang", 3,
          numHashes = 8, bands = 4, threshold = 0.5)
        pairs
          .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
          .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
          .agg(lcount(lit(1)).as("n_pairs"),
               lsum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
                 .as("n_cross"),
               (lsum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
                  .cast("double") / count(lit(1))).as("cross_frac"))
      },
      Some(s"""WITH ${LlmOps.shingleCte}, ${LlmOps.minhashCandCte}, ${LlmOps.jaccardTail},
         |ls AS (SELECT c.id_a, c.id_b FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b WHERE j.jaccard >= 0.5),
         |sp AS (SELECT doc_id, CASE WHEN ${ph("CAST(doc_id AS VARCHAR)", 23)} % 100 < 80 THEN 'train' WHEN ${ph("CAST(doc_id AS VARCHAR)", 23)} % 100 < 90 THEN 'val' ELSE 'test' END AS split FROM documents),
         |x AS (SELECT ls.id_a, ls.id_b, sa.split AS split_a, sb.split AS split_b FROM ls JOIN sp sa ON sa.doc_id = ls.id_a JOIN sp sb ON sb.doc_id = ls.id_b)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(SUM(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END) AS BIGINT) AS n_cross, CAST(SUM(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS cross_frac FROM x""".stripMargin.replace("\n", " "))),

    QueryDef("q125_split_repair",
      "cross-split leakage REPAIR, closing the q98 detect loop: every near-dup COMPONENT (q48's min-label connected components over the guarded exact-jaccard pair plane — bit-identical to plain exact pairs through sf1, see q52) is re-unified onto its representative's q97 split — after repair no near-dup pair can straddle a boundary, because both endpoints share a component and each component lands in exactly one split (the standard Lee-et-al-motivated fix: move whole dup clusters, never split them). Output is the full per-member repair decision (doc_id, group_rep, old_split, new_split, moved) — singleton docs never appear (no component, cannot leak). Deterministic end to end: components from exact pairs, splits a pure hash — the repair is a reproducible data fact, not a random rebalance. Scale: pair/group planes are q21/q48's (LSH at open corpus scale); the repair itself is one map over the grid-sized groups table",
      (s, d) => {
        val groups = Dedup.dedupGroups(
          // guarded pair plane (round 14, with q48/q52/q184): this
          // query ENOSPC'd at sf10 on the uncapped plane; bit-identical
          // through sf1 (max df 62 <= budget 64)
          Dedup.guardedJaccardPairs(t(s, d, "documents"), "text", "doc_id",
                                    "lang", 3, 0.5),
          "id_a", "id_b")
        def splitOf(c: org.apache.spark.sql.Column) = {
          val b = pmod(portableHash(c.cast("string"), 23), lit(100))
          when(b < 80, lit("train")).when(b < 90, lit("val")).otherwise(lit("test"))
        }
        groups.select(col("doc_id"), col("group_rep"),
            splitOf(col("doc_id")).as("old_split"),
            splitOf(col("group_rep")).as("new_split"))
          .withColumn("moved", col("old_split") =!= col("new_split"))
      },
      Some(s"""WITH RECURSIVE ${LlmOps.guardedPairsSql},
         |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         |reach(id, lbl) AS (SELECT src, src FROM e UNION SELECT e2.src, r.lbl FROM e e2 JOIN reach r ON r.id = e2.dst),
         |g AS (SELECT id AS doc_id, MIN(lbl) AS group_rep FROM reach GROUP BY id),
         |sp AS (SELECT doc_id, group_rep, CASE WHEN ${ph("CAST(doc_id AS VARCHAR)", 23)} % 100 < 80 THEN 'train' WHEN ${ph("CAST(doc_id AS VARCHAR)", 23)} % 100 < 90 THEN 'val' ELSE 'test' END AS old_split, CASE WHEN ${ph("CAST(group_rep AS VARCHAR)", 23)} % 100 < 80 THEN 'train' WHEN ${ph("CAST(group_rep AS VARCHAR)", 23)} % 100 < 90 THEN 'val' ELSE 'test' END AS new_split FROM g)
         |SELECT doc_id, group_rep, old_split, new_split, (old_split <> new_split) AS moved FROM sp""".stripMargin.replace("\n", " "))),

    QueryDef("q64_mixture_weights",
      "corpus mixing: temperature-scaled language sampling weights p_l ∝ n_l^0.3 (multilingual up-sampling à la mBERT/XLM-R exponent smoothing) next to the raw proportions",
      (s, d) => {
        val byLang = t(s, d, "documents")
          .groupBy(col("lang")).agg(lcount(lit(1)).as("n_docs"))
        val w = byLang.select(col("lang"), col("n_docs"),
          portableRound4(pow(col("n_docs").cast("double"), lit(0.3))).as("w"))
        // totals summed as exact decimals / longs so the reduction is
        // order-independent; 5 langs here, but the same plan holds for
        // an open lang set (two scalar aggs broadcast by AQE)
        val tot = w.agg(sum(col("w").cast(DecimalType(38, 6))).as("tw"),
                        sum(col("n_docs")).as("tn"))
        w.crossJoin(tot).select(col("lang"), col("n_docs"),
          portableRound6(col("n_docs").cast("double") / col("tn")).as("p_raw"),
          portableRound6(col("w") / col("tw").cast("double")).as("p_temp"))
      },
      Some(s"""WITH b AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1), w AS (SELECT lang, n_docs, floor(pow(CAST(n_docs AS DOUBLE), 0.3) * 1e4 + 0.5) / 1e4 AS w FROM b), tot AS (SELECT CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS tw, CAST(SUM(n_docs) AS BIGINT) AS tn FROM w) SELECT lang, n_docs, floor(CAST(n_docs AS DOUBLE) / tn * 1e6 + 0.5) / 1e6 AS p_raw, floor(w / CAST(tw AS DOUBLE) * 1e6 + 0.5) / 1e6 AS p_temp FROM w CROSS JOIN tot""")),

    QueryDef("q66_incremental_dedup",
      "cross-snapshot incremental dedup: an incoming batch (odd doc ids) dedups within itself, then anti-joins the standing corpus index (even doc ids) on the 128-bit key — the daily-ingest path that never re-dedups the full corpus. At 100 TB the index is a compact 16-byte-key table (bucketable for an exchange-free anti-join); only keys shuffle, never text",
      (s, d) => {
        val docs = t(s, d, "documents")
        val key = Dedup.contentKey("text")
        val index = docs.filter(col("doc_id") % 2 === 0)
          .select(key.as("k")).distinct()
        val batch = docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), key.as("k"))
        val withinKeep = batch.groupBy(col("k")).agg(min(col("doc_id")).as("doc_id"))
        val kept = batch.join(withinKeep, Seq("k", "doc_id"), "left_semi")
        val fresh = kept.join(index, Seq("k"), "left_anti")
        val nb = batch.groupBy(col("lang")).agg(lcount(lit(1)).as("n_batch"))
        val nk = kept.groupBy(col("lang")).agg(lcount(lit(1)).as("n_kept"))
        val nn = fresh.groupBy(col("lang")).agg(lcount(lit(1)).as("n_new"))
        nb.join(nk, Seq("lang"), "left").join(nn, Seq("lang"), "left")
          .select(col("lang"), col("n_batch"),
            (col("n_batch") - coalesce(col("n_kept"), lit(0L))).as("n_within_dupes"),
            (coalesce(col("n_kept"), lit(0L)) - coalesce(col("n_new"), lit(0L)))
              .as("n_index_dupes"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
      },
      Some {
        val k = s"md5(${TextFunctions.sql.normalize("text")})"
        s"""WITH b AS (SELECT doc_id, lang, $k AS k FROM documents WHERE doc_id % 2 = 1),
           |ix AS (SELECT DISTINCT $k AS k FROM documents WHERE doc_id % 2 = 0),
           |wk AS (SELECT k, MIN(doc_id) AS doc_id FROM b GROUP BY 1),
           |kept AS (SELECT b.* FROM b JOIN wk ON b.k = wk.k AND b.doc_id = wk.doc_id),
           |fresh AS (SELECT * FROM kept WHERE NOT EXISTS (SELECT 1 FROM ix WHERE ix.k = kept.k)),
           |nb AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_batch FROM b GROUP BY 1),
           |nk AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY 1),
           |nn AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_new FROM fresh GROUP BY 1)
           |SELECT nb.lang, n_batch, n_batch - COALESCE(n_kept, 0) AS n_within_dupes, COALESCE(n_kept, 0) - COALESCE(n_new, 0) AS n_index_dupes, COALESCE(n_new, 0) AS n_new
           |FROM nb LEFT JOIN nk USING (lang) LEFT JOIN nn USING (lang)""".stripMargin.replace("\n", " ")
      }),

    QueryDef("q67_segment_dedup",
      "sub-document dedup (C4/Falcon line-dedup analogue): disjoint 10-token segments; a segment seen >= 2 times corpus-wide is boilerplate, removed from EVERY document; docs reassemble from surviving segments in order. Hot-segment set is tiny -> AQE broadcasts the anti-join; frequency groups on the 60-bit portable hash, never the segment string",
      (s, d) => Dedup.segmentDedup(t(s, d, "documents"), "text", "doc_id",
                                   segLen = 10, minRep = 2),
      Some(s"""WITH s AS (SELECT doc_id, ${TextFunctions.sql.tokensOf("text")} AS w FROM documents), seg AS (SELECT doc_id, i, array_to_string(list_slice(w, i*10+1, i*10+10), ' ') AS sg FROM s, unnest(generate_series(0, CAST(ceil(len(w)/10.0) AS INT) - 1)) AS t(i) WHERE len(w) > 0), hs AS (SELECT doc_id, i, sg, ${ph("sg", 13)} AS h FROM seg), hot AS (SELECT h FROM hs GROUP BY h HAVING count(*) >= 2), kept AS (SELECT * FROM hs WHERE h NOT IN (SELECT h FROM hot)), rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_segments, string_agg(sg, ' ' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id) SELECT d.doc_id, CAST(len(${TextFunctions.sql.tokensOf("d.text")}) AS BIGINT) AS n_tokens, COALESCE(rb.n_kept_segments, 0) AS n_kept_segments, COALESCE(rb.clean_text, '') AS clean_text FROM documents d LEFT JOIN rb USING (doc_id)""")),

    QueryDef("q77_incremental_neardup",
      "cross-snapshot NEAR-dup dedup (the LSH twin of q66's exact-key path): the incoming batch (odd ids) probes the standing corpus (even ids) for near-duplicates via a band-key equi-join of MinHash signatures, verified by exact shingle Jaccard >= 0.5. At scale the index side is precomputed banded signatures (bands x ~24 bytes/doc, no text), bucketed by band key for an exchange-free probe",
      (s, d) => {
        val docs = t(s, d, "documents")
        val batch = docs.filter(col("doc_id") % 2 === 1)
        val index = docs.filter(col("doc_id") % 2 === 0)
        val m = Dedup.minhashLshJoin(batch, index, "text", "doc_id", "lang",
                                     3, numHashes = 8, bands = 4, threshold = 0.5)
        val agg = m.groupBy(col("id_l").as("doc_id"))
          .agg(lcount(lit(1)).as("n_matches"), max(col("jaccard")).as("mj"))
        batch.select(col("doc_id"), col("lang"))
          .join(agg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            coalesce(col("mj"), lit(0.0)).as("max_jaccard"))
      },
      Some {
        val h1 = TextFunctions.sql.md5Half("s", 1)
        val h2 = TextFunctions.sql.md5Half("s", 17)
        val mhCols = (0 until 8).map(j => s"MIN($h1 + $j * $h2) AS mh$j").mkString(", ")
        val bandCols = (0 until 4).map { b =>
          s"CAST(mh${2 * b} AS VARCHAR) || '|' || CAST(mh${2 * b + 1} AS VARCHAR) AS band$b"
        }.mkString(", ")
        val bandEq = (0 until 4).map(b => s"a.band$b = b.band$b").mkString(" OR ")
        s"""WITH ${LlmOps.shingleCte},
           |mh AS (SELECT doc_id, lang, $mhCols FROM sh GROUP BY doc_id, lang),
           |banded AS (SELECT doc_id, lang, $bandCols FROM mh),
           |cand AS (SELECT DISTINCT a.doc_id AS id_l, b.doc_id AS id_r FROM banded a JOIN banded b ON a.lang = b.lang AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND ($bandEq)),
           |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
           |inter AS (SELECT c.id_l, c.id_r, CAST(count(*) AS BIGINT) AS ic FROM cand c JOIN sh a ON a.doc_id = c.id_l JOIN sh b ON b.doc_id = c.id_r AND b.s = a.s GROUP BY 1, 2),
           |jac AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (ca.n_sh + cb.n_sh - ic) AS j FROM inter JOIN cnt ca ON ca.doc_id = id_l JOIN cnt cb ON cb.doc_id = id_r),
           |agg AS (SELECT id_l AS doc_id, CAST(count(*) AS BIGINT) AS n_matches, MAX(j) AS mj FROM jac WHERE j >= 0.5 GROUP BY 1)
           |SELECT d.doc_id, d.lang, COALESCE(a.n_matches, 0) AS n_matches, COALESCE(a.mj, 0.0) AS max_jaccard FROM documents d LEFT JOIN agg a USING (doc_id) WHERE d.doc_id % 2 = 1""".stripMargin.replace("\n", " ")
      }),

    QueryDef("q75_span_dedup",
      "exact repeated-substring-span removal (Lee et al. ExactSubstr dedup): every overlapping 15-token window hashed; hashes occurring >= 2 times corpus-wide mark their spans; per-doc spans merge into maximal intervals (interval-union) and the surviving tokens reassemble. Catches repeats at ANY alignment, unlike q67's disjoint segments. Frequency on 8-byte hashes, doc-bounded merge windows, map-side positional span strip",
      (s, d) => Dedup.spanDedup(t(s, d, "documents"), "text", "doc_id",
                                winLen = 15, minRep = 2),
      Some {
        val tk = TextFunctions.sql.tokensOf("text")
        s"""WITH s AS (SELECT doc_id, $tk AS w FROM documents),
           |win AS (SELECT doc_id, i, ${ph("array_to_string(list_slice(w, i+1, i+15), ' ')", 29)} AS h FROM s, unnest(generate_series(0, len(w) - 15)) AS t(i) WHERE len(w) >= 15),
           |hot AS (SELECT h FROM win GROUP BY h HAVING count(*) >= 2),
           |hp AS (SELECT doc_id, i FROM win WHERE h IN (SELECT h FROM hot)),
           |isl AS (SELECT doc_id, i, CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL OR i > lag(i) OVER (PARTITION BY doc_id ORDER BY i) + 15 THEN 1 ELSE 0 END AS st FROM hp),
           |is2 AS (SELECT doc_id, i, SUM(st) OVER (PARTITION BY doc_id ORDER BY i) AS isle FROM isl),
           |iv AS (SELECT doc_id, isle, MIN(i) AS sp, MAX(i) + 15 AS ep FROM is2 GROUP BY doc_id, isle),
           |st2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, CAST(SUM(ep - sp) AS BIGINT) AS n_removed_tokens FROM iv GROUP BY doc_id),
           |pos AS (SELECT doc_id, p FROM s, unnest(generate_series(0, len(w) - 1)) AS t(p) WHERE len(w) > 0),
           |keep AS (SELECT pos.doc_id, p FROM pos WHERE NOT EXISTS (SELECT 1 FROM iv WHERE iv.doc_id = pos.doc_id AND p >= iv.sp AND p < iv.ep)),
           |kt AS (SELECT k.doc_id, string_agg(s.w[p+1], ' ' ORDER BY p) AS clean_text FROM keep k JOIN s ON s.doc_id = k.doc_id GROUP BY k.doc_id)
           |SELECT d.doc_id, CAST(len(${TextFunctions.sql.tokensOf("d.text")}) AS BIGINT) AS n_tokens, COALESCE(st2.n_spans, 0) AS n_spans, COALESCE(st2.n_removed_tokens, 0) AS n_removed_tokens, COALESCE(kt.clean_text, '') AS clean_text
           |FROM documents d LEFT JOIN st2 ON st2.doc_id = d.doc_id LEFT JOIN kt ON kt.doc_id = d.doc_id""".stripMargin.replace("\n", " ")
      }),

    QueryDef("q76_epoch_upsample",
      "deterministic epoch upsampling (data-constrained scaling, Muennighoff et al.): per-lang epochs = min(4, maxN/n), each doc replicated floor(e) times + 1 more iff hash-fraction < frac(e) — reproducible fractional epochs, map-side explode bounded by maxEpochs, corpus never shuffles (stratum table broadcasts)",
      (s, d) => graft.ext.Sampling
        .epochUpsample(t(s, d, "documents"), "lang", "doc_id", maxEpochs = 4.0)
        .select(col("doc_id"), col("lang"), col("n_copies"), col("copy_no")),
      Some(s"""WITH n AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY 1), e AS (SELECT lang, LEAST(4.0, (SELECT MAX(n) FROM n) / n) AS ep FROM n), dd AS (SELECT doc_id, d.lang, CAST(floor(ep) AS INT) + CASE WHEN (${ph("CAST(doc_id AS VARCHAR)", 31)} % 10000) / 10000.0 < ep - floor(ep) THEN 1 ELSE 0 END AS k FROM documents d JOIN e USING (lang)) SELECT doc_id, lang, CAST(k AS BIGINT) AS n_copies, CAST(c AS BIGINT) AS copy_no FROM dd, unnest(generate_series(1, k)) AS t(c)""")),

    QueryDef("q68_token_budget",
      "data-constrained corpus selection: per-lang greedy fill by quality (desc, doc_id tiebreak) into a fixed 5000-token budget via a windowed running token sum. The per-lang sequential order is inherent to greedy selection; at open scale the same plan runs per (lang, quality-range) bucket from a first-pass histogram",
      (s, d) => graft.ext.Sampling
        .tokenBudgetSelect(t(s, d, "documents"), "lang", "text", "doc_id", 5000L)
        .select(col("grp").as("lang"), col("doc_id"), col("n_tokens"),
                col("quality"), col("cum_tokens")),
      Some(q68OracleSql)),

    QueryDef("q68b_token_budget_sharded",
      "q68's SCALE twin: the same greedy budget selection via quality-range bucket shards (first-pass histogram split -> per-bucket totals -> tiny bucket-base prefix -> bounded within-bucket windows). Selected set identical to q68 by construction (buckets are contiguous quality ranges), so it reuses q68's oracle SQL verbatim",
      (s, d) => graft.ext.ShardedPrefix
        .tokenBudgetSelectSharded(t(s, d, "documents"), "lang", "text",
                                  "doc_id", 5000L, nBuckets = 8)
        .select(col("grp").as("lang"), col("doc_id"), col("n_tokens"),
                col("quality"), col("cum_tokens")),
      Some(q68OracleSql)),

    QueryDef("q65_curation_pipeline",
      "END-TO-END corpus curation funnel: quality filter (>= 0.75) -> exact dedup (128-bit md5, keep min id) -> MinHash+LSH near-dup groups -> per-lang funnel counts and surviving token mass. The composition a training-data pipeline actually executes, with every stage on its scale path",
      (s, d) => {
        val docs = t(s, d, "documents")
        // Stage materialization: the funnel's downstream consumers (the
        // minhash signature AND verification scans, the per-stage counts,
        // the final anti-join) would each re-run the regex-heavy quality
        // score and the exact-dedup semi-join — ~7 full passes over the
        // corpus. Checkpoint each curation stage once, exactly as a real
        // pipeline persists inter-stage corpora (measured 6.0s → 2.9s at
        // sf0.1). At cluster scale this is a distributed-storage
        // checkpoint; localCheckpoint is its single-JVM twin.
        //
        // Round 18 (guide §2.6, the q171 pattern): the per-stage funnel
        // counts (raw/nq/ne) depend only on their own stage's frame,
        // never on the LSH chain — submitting each as a concurrent
        // future right after its input materializes lets those jobs
        // back-fill the cluster while the serial LSH/group chain runs,
        // instead of queueing serially inside the final readout action.
        // Each future eagerly materializes a per-lang count (a handful
        // of rows); the values — and hence the query result — are
        // identical, only WHEN the jobs run changes. blocking{} because
        // the shared global pool must not starve on low-core machines.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fRaw = Future { scala.concurrent.blocking {
          s.sparkContext.setJobDescription("q65: n_raw funnel count (concurrent)")
          docs.groupBy(col("lang")).agg(lcount(lit(1)).as("n_raw"))
            .localCheckpoint(true)
        } }
        val scored = docs.select(col("doc_id"), col("lang"), col("text"),
            qualityScore(col("text")).as("q"),
            Dedup.contentKey("text").as("k"))
          .localCheckpoint(true)
        val fd = scored.filter(col("q") >= 0.75)
        val fNq = Future { scala.concurrent.blocking {
          s.sparkContext.setJobDescription("q65: n_quality funnel count (concurrent)")
          fd.groupBy(col("lang")).agg(lcount(lit(1)).as("n_quality"))
            .localCheckpoint(true)
        } }
        val exKeep = fd.groupBy(col("k"))
          .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
        val fd2 = fd.join(exKeep, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"), col("text"))
          .localCheckpoint(true)
        val fNe = Future { scala.concurrent.blocking {
          s.sparkContext.setJobDescription("q65: n_exact funnel count (concurrent)")
          fd2.groupBy(col("lang")).agg(lcount(lit(1)).as("n_exact"))
            .localCheckpoint(true)
        } }
        val groups = Dedup.dedupGroups(
          Dedup.minhashLshPairs(fd2, "text", "doc_id", "lang", 3,
                                numHashes = 8, bands = 4, threshold = 0.5),
          "id_a", "id_b")
        val drop = groups.filter(col("doc_id") =!= col("group_rep"))
          .select(col("doc_id"))
        val fin = fd2.join(drop, Seq("doc_id"), "left_anti")
        val raw = Await.result(fRaw, Duration.Inf)
        val nq = Await.result(fNq, Duration.Inf)
        val ne = Await.result(fNe, Duration.Inf)
        val nf = fin.groupBy(col("lang"))
          .agg(lcount(lit(1)).as("n_final"),
               lsum(tokenCount(col("text"))).as("tokens_final"))
        raw.join(nq, Seq("lang"), "left").join(ne, Seq("lang"), "left")
          .join(nf, Seq("lang"), "left")
          .select(col("lang"), col("n_raw"),
            coalesce(col("n_quality"), lit(0L)).as("n_quality"),
            coalesce(col("n_exact"), lit(0L)).as("n_exact"),
            coalesce(col("n_final"), lit(0L)).as("n_final"),
            coalesce(col("tokens_final"), lit(0L)).as("tokens_final"))
      },
      Some {
        // the shared shingle/minhash CTEs are written against
        // `documents`; retarget them at the filtered stage fd2d (same
        // column shape: doc_id, lang, text)
        val sh2 = LlmOps.shingleCte.replace("FROM documents", "FROM fd2d")
        s"""WITH RECURSIVE ${LlmOps.textStatsCte},
           |fd AS (SELECT d.doc_id, d.text, d.lang FROM documents d JOIN q USING (doc_id) WHERE q.quality >= 0.75),
           |ek AS (SELECT MIN(doc_id) AS doc_id FROM fd GROUP BY md5(${TextFunctions.sql.normalize("text")})),
           |fd2d AS (SELECT * FROM fd WHERE doc_id IN (SELECT doc_id FROM ek)),
           |$sh2, ${LlmOps.minhashCandCte}, ${LlmOps.jaccardTail},
           |p AS (SELECT c.id_a, c.id_b FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b WHERE j.jaccard >= 0.5),
           |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
           |reach(id, lbl) AS (SELECT src, src FROM e UNION SELECT e2.src, r.lbl FROM e e2 JOIN reach r ON r.id = e2.dst),
           |g AS (SELECT id AS doc_id, MIN(lbl) AS group_rep FROM reach GROUP BY id),
           |dropped AS (SELECT doc_id FROM g WHERE doc_id <> group_rep),
           |fin AS (SELECT * FROM fd2d WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
           |raw AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_raw FROM documents GROUP BY 1),
           |nq AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_quality FROM fd GROUP BY 1),
           |ne AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_exact FROM fd2d GROUP BY 1),
           |nf AS (SELECT f.lang, CAST(count(*) AS BIGINT) AS n_final, CAST(SUM(len(${TextFunctions.sql.tokensOf("f.text")})) AS BIGINT) AS tokens_final FROM fin f GROUP BY 1)
           |SELECT r.lang, r.n_raw, COALESCE(nq.n_quality, 0) AS n_quality, COALESCE(ne.n_exact, 0) AS n_exact, COALESCE(nf.n_final, 0) AS n_final, COALESCE(nf.tokens_final, 0) AS tokens_final
           |FROM raw r LEFT JOIN nq USING (lang) LEFT JOIN ne USING (lang) LEFT JOIN nf USING (lang)""".stripMargin.replace("\n", " ")
      }),

    QueryDef("q71_bloom_index_filter",
      "Bloom-filter pre-filter for incremental dedup: the standing index (even docs) reduces to a 16 KiB deterministic bitmap (m=2^17 bits, k=5, positions = (h1 + j*h2) mod m over the portable md5 halves) that broadcasts to the batch scan — candidate filtering is MAP-ONLY, no index shuffle. Per-lang audit: batch size, bloom hits, true dups, false positives. Zero false negatives by construction; the oracle reproduces the exact position set, so even the false-positive rows hash-match",
      (s, d) => {
        import graft.functions.BloomFns._
        val mB = 1 << 17; val kH = 5
        val docs = t(s, d, "documents")
        val key = Dedup.contentKey("text")
        val index = docs.filter(col("doc_id") % 2 === 0).select(key.as("k")).distinct()
        val bloom = index.agg(bloomBuild(col("k"), mB, kH).as("bf"))
        val batch = docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), key.as("k"))
        val flagged = batch.crossJoin(broadcast(bloom))
          .withColumn("hit", bloomMightContain(col("bf"), col("k"), mB, kH))
        flagged.join(index.select(col("k"), lit(1).as("in_ix")), Seq("k"), "left")
          .groupBy(col("lang"))
          .agg(lcount(lit(1)).as("n_batch"),
               lcount(when(col("hit"), 1)).as("n_bloom_hits"),
               lcount(when(col("in_ix") === 1, 1)).as("n_true_dups"),
               lcount(when(col("hit") && col("in_ix").isNull, 1)).as("n_false_pos"))
      },
      Some {
        val k = s"md5(${TextFunctions.sql.normalize("text")})"
        def h(expr: String, off: Int) = TextFunctions.sql.md5Half(expr, off)
        s"""WITH ik AS (SELECT DISTINCT $k AS k FROM documents WHERE doc_id % 2 = 0),
           |ih AS (SELECT k, ${h("k", 1)} AS h1, ${h("k", 17)} AS h2 FROM ik),
           |pos AS (SELECT DISTINCT (h1 + j * h2) % 131072 AS p FROM ih, range(5) t(j)),
           |bh AS (SELECT doc_id, lang, k, ${h("k", 1)} AS h1, ${h("k", 17)} AS h2 FROM (SELECT doc_id, lang, $k AS k FROM documents WHERE doc_id % 2 = 1)),
           |hits AS (SELECT doc_id FROM bh, range(5) t(j) WHERE ((h1 + j * h2) % 131072) IN (SELECT p FROM pos) GROUP BY doc_id HAVING count(*) = 5),
           |fl AS (SELECT bh.lang, EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = bh.doc_id) AS hit, EXISTS (SELECT 1 FROM ik WHERE ik.k = bh.k) AS in_ix FROM bh)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_batch, CAST(count(CASE WHEN hit THEN 1 END) AS BIGINT) AS n_bloom_hits, CAST(count(CASE WHEN in_ix THEN 1 END) AS BIGINT) AS n_true_dups, CAST(count(CASE WHEN hit AND NOT in_ix THEN 1 END) AS BIGINT) AS n_false_pos
           |FROM fl GROUP BY lang""".stripMargin.replace("\n", " ")
      }),

    QueryDef("q78_shard_build",
      "END-TO-END training-shard build — the pipeline's actual end product: quality filter (>= 0.75) -> exact dedup (keep min id) -> deterministic epoch upsampling (cap 4) -> per-lang sequence packing into 512-token bins -> hash-shard assignment of each bin (the q72 writer expression). Every stage is individually oracle-verified (q27/q20/q76/q61/q72); this composes them and hash-checks the composition. Packing windows are per-lang here; the q61b sharded-prefix twin is the open-scale form",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents")
        // checkpoint the scored stage: the dedup semi-join and the
        // upsample's stratum counts would otherwise re-run the
        // regex-heavy quality score + md5 over the corpus per consumer
        val scored = docs.select(col("doc_id"), col("lang"),
            qualityScore(col("text")).as("q"), Dedup.contentKey("text").as("k"),
            tokenCount(col("text")).as("n_tokens"))
          .localCheckpoint(true)
        val fd = scored.filter(col("q") >= 0.75)
        val keep = fd.groupBy(col("k")).agg(min(col("doc_id")).as("doc_id"))
        val cur = fd.join(keep, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang"), col("n_tokens"))
        val up = graft.ext.Sampling.epochUpsample(cur, "lang", "doc_id",
                                                  maxEpochs = 4.0)
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"), col("copy_no"))
        up.withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
          .withColumn("bin", floor(col("start_off") / lit(512)).cast("long"))
          .groupBy(col("lang"), col("bin"))
          .agg(lcount(lit(1)).as("n_items"), lsum(col("n_tokens")).as("n_tokens"))
          .withColumn("shard", graft.sinks.ReportSink.shardOf(
            concat_ws(":", col("lang"), col("bin")), 16))
          .select(col("lang"), col("bin"), col("shard"), col("n_items"),
                  col("n_tokens"))
      },
      Some(s"""WITH ${LlmOps.textStatsCte}, fd AS (SELECT d.doc_id, d.lang, d.text, q.n_tokens FROM documents d JOIN q USING (doc_id) WHERE q.quality >= 0.75), ek AS (SELECT MIN(doc_id) AS doc_id FROM fd GROUP BY md5(${TextFunctions.sql.normalize("text")})), cur AS (SELECT doc_id, lang, n_tokens FROM fd WHERE doc_id IN (SELECT doc_id FROM ek)), n AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM cur GROUP BY 1), e AS (SELECT lang, LEAST(4.0, (SELECT MAX(n) FROM n) / n) AS ep FROM n), upd AS (SELECT c.doc_id, c.lang, c.n_tokens, CAST(floor(ep) AS INT) + CASE WHEN (${ph("CAST(c.doc_id AS VARCHAR)", 31)} % 10000) / 10000.0 < ep - floor(ep) THEN 1 ELSE 0 END AS kk FROM cur c JOIN e USING (lang)), up AS (SELECT doc_id, lang, n_tokens, cc AS copy_no FROM upd, unnest(generate_series(1, kk)) AS t(cc)), pk AS (SELECT lang, n_tokens, SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id, copy_no) - n_tokens AS start_off FROM up), pb AS (SELECT lang, CAST(floor(start_off / 512) AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n_items, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM pk GROUP BY 1, 2) SELECT lang, bin, CAST(${ph("lang || ':' || CAST(bin AS VARCHAR)", 97)} % 16 AS BIGINT) AS shard, n_items, n_tokens FROM pb""")),

    QueryDef("q99_dsir_weights",
      "DSIR importance weighting (Xie et al. 2023, Data Selection via Importance Resampling): hashed-token bag-of-ngrams features (portable hash mod 512 buckets), target distribution = the quality >= 0.75 subset (the 'resemble the high-quality target' selection DSIR runs against Wikipedia/books), source = the whole corpus. Per-doc log importance weight = sum over token instances of ln p_target(bucket) - ln p_source(bucket), add-1 smoothed. Per-bucket log-ratios are differences of two 4-dp-rounded non-negative surprisals (the q63 parity recipe), so the per-doc sum runs on exact decimals — order-independent and engine-portable. Plan: ONE token-explode pass feeds doc-bucket counts; the 512-row bucket table and its totals broadcast back (AQE-sized); scoring is a map-side join — no corpus re-shuffle at 100 TB, the same shape as q63's vocab join but with a FIXED-width feature table (DSIR's point: the hashed feature space stays 512 buckets no matter the corpus size)",
      (s, d) => {
        val docs = t(s, d, "documents")
        // doc flags (target membership) and sizes: one map-only pass
        val flags = docs.select(col("doc_id"), col("lang"),
          (qualityScore(col("text")) >= 0.75).as("is_t"),
          tokenCount(col("text")).as("n_tokens"))
        // per-(doc, bucket) token counts: the single explode pass every
        // downstream aggregate reuses
        val db = docs
          .select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
          .select(col("doc_id"), pmod(portableHash(col("tk"), 41), lit(512)).as("b"))
          .groupBy(col("doc_id"), col("b")).agg(lcount(lit(1)).as("c"))
        // bucket-marginal counts for source (all docs) and target subset
        val bucket = db.join(flags.select(col("doc_id"), col("is_t")), "doc_id")
          .groupBy(col("b"))
          .agg(lsum(col("c")).as("cs"),
               lsum(when(col("is_t"), col("c")).otherwise(0L)).as("ct"))
        val tot = bucket.agg(lsum(col("cs")).as("ns"), lsum(col("ct")).as("nt"))
        // lr(b) = ln p_t(b) - ln p_s(b) = s_s(b) - s_t(b) where
        // s_x = ln((N_x + 512)/(c_x + 1)) >= 0 (c_x <= N_x), each
        // rounded to 4 dp while still non-negative, difference exact
        val lr = bucket.crossJoin(tot).select(col("b"),
          (portableRound4(log((col("ns") + 512).cast("double") / (col("cs") + 1))) -
           portableRound4(log((col("nt") + 512).cast("double") / (col("ct") + 1))))
            .cast(DecimalType(38, 6)).as("lr"))
        val pd = db.join(lr, "b")
          .groupBy(col("doc_id"))
          .agg(sum(col("c").cast(DecimalType(18, 0)) * col("lr")).as("logw"))
        flags.join(pd, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            coalesce(col("logw"), lit(0)).cast(DecimalType(38, 6)).cast("double")
              .as("logw"))
      },
      Some(s"""WITH ${LlmOps.textStatsCte},
         |fl AS (SELECT d.doc_id, d.lang, q.n_tokens, q.quality >= 0.75 AS is_t FROM documents d JOIN q USING (doc_id)),
         |tb AS (SELECT doc_id, ${ph("tk", 41)} % 512 AS b FROM (SELECT doc_id, unnest(${TextFunctions.sql.tokensOf("text")}) AS tk FROM documents)),
         |db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM tb GROUP BY 1, 2),
         |bk AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cs, CAST(SUM(CASE WHEN is_t THEN c ELSE 0 END) AS BIGINT) AS ct FROM db JOIN fl USING (doc_id) GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS ns, CAST(SUM(ct) AS BIGINT) AS nt FROM bk),
         |lr AS (SELECT b, CAST(floor(ln(CAST(ns + 512 AS DOUBLE) / (cs + 1)) * 1e4 + 0.5) / 1e4 - floor(ln(CAST(nt + 512 AS DOUBLE) / (ct + 1)) * 1e4 + 0.5) / 1e4 AS DECIMAL(38,6)) AS lr FROM bk CROSS JOIN tot),
         |pd AS (SELECT doc_id, SUM(CAST(c AS DECIMAL(18,0)) * lr) AS logw FROM db JOIN lr USING (b) GROUP BY 1)
         |SELECT fl.doc_id, fl.lang, fl.n_tokens, CAST(CAST(COALESCE(pd.logw, 0) AS DECIMAL(38,6)) AS DOUBLE) AS logw
         |FROM fl LEFT JOIN pd USING (doc_id)""".stripMargin.replace("\n", " "))),

    QueryDef("q72_hash_shard_assignment",
      "deterministic hash-shard assignment backing ReportSink.writeHashSharded (WebDataset-style corpus layout): shard = pmod(portableHash(doc_id, 97), 16) — the writer's exact expression, oracle-checked row by row so the layout is stable under reruns and cluster resizes",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
                graft.sinks.ReportSink.shardOf(col("doc_id"), 16).as("shard")),
      // portableHash is non-negative (60-bit), so % == pmod in both engines
      Some(s"SELECT doc_id, CAST(CASE WHEN doc_id IS NULL THEN 0 ELSE ${ph("CAST(doc_id AS VARCHAR)", 97)} % 16 END AS BIGINT) AS shard FROM documents"))
  )
}
