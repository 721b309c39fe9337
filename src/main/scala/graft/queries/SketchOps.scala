package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions
import graft.functions.TextFunctions.{sql => tsql, _}
import graft.functions.CmsFns
import graft.ops.Num._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-6 batch: the frequency-sketch plane (Count–Min), rule-based
  * filtering with per-rule attribution, weight-sensitive sampling, and
  * single-pass data profiling.
  */
object SketchOps {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  private val stops = Seq("the", "a", "an", "and", "or", "of", "to", "in")

  /** q79's operator surface: the five-rule Gopher battery over a
    * (doc_id, text) frame — every rule a codegen'd expression over one
    * tokens pass, map-only at any scale. Bits: 1 = too short, 2 =
    * mean-word-length out of [3,8], 4 = alphabetic ratio < 0.75, 8 =
    * fewer than 2 distinct stopwords, 16 = duplicate-token fraction
    * > 0.5. keep = reasons == 0. */
  def gopherRules(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tok = tokens(col("text"))
    val nTok = size(tok).cast("long")
    val meanLen = avgTokenLen(col("text"))
    val alpha = alphaRatio(col("text"))
    val nStop = size(filter(array_distinct(tok),
      w => w.isin(stops: _*))).cast("long")
    val dupFrac = when(size(tok) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(tok)).cast("double") / size(tok))
    val reasons =
      when(nTok < 30, lit(1L)).otherwise(lit(0L)) +
      when(meanLen < 3.0 || meanLen > 8.0, lit(2L)).otherwise(lit(0L)) +
      when(alpha < 0.75, lit(4L)).otherwise(lit(0L)) +
      when(nStop < 2, lit(8L)).otherwise(lit(0L)) +
      when(dupFrac > 0.5, lit(16L)).otherwise(lit(0L))
    docs.select(
      col("doc_id"), nTok.as("n_tokens"), meanLen.as("mean_word_len"),
      alpha.as("alpha_ratio"), nStop.as("n_stop_distinct"),
      dupFrac.as("dup_frac"), reasons.as("reasons"),
      when(reasons === 0, lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  /** Long-format single-scan profile (kept for storage that cannot
    * prune columns — see [[profileAgg]], the columnar-storage winner
    * and q82's production surface). Values travel in a slot matching
    * their source type — strings as strings, integral numerics as
    * EXACT longs (a double slot would collapse distinct bigints above
    * 2⁵³ and diverge from the oracle's typed COUNT(DISTINCT)),
    * fractional numerics as doubles. CAVEAT (round-6 advice): the
    * double slot also carries high-precision DECIMALs, so two decimal
    * values distinct at full precision but equal after the double
    * round-trip (>15-16 significant digits apart by < 1 ulp) would
    * undercount n_distinct relative to a typed COUNT(DISTINCT) — for
    * decimal-keyed profiling beyond q82's columns use [[profileAgg]],
    * whose per-column aggregates count distinct ON THE SOURCE TYPE.
    * Two bounded shuffles (distinct combos, then per-column stats), no
    * Expand, no per-column re-scan. min/max report as double only on
    * the final |columns|-row frame. */
  def profile(df: org.apache.spark.sql.DataFrame, numCols: Seq[String],
              strCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // the exploded rows are shuffle traffic: carry a 1-byte column ID,
    // not the column-name string (a repeated 15-char UTF8 per row was
    // ~40% of the combo shuffle's bytes), and map ID → name only on
    // the final frame
    val names = numCols ++ strCols
    require(names.size <= 127, s"profile of ${names.size} columns overflows the byte ID")
    def isIntegral(c: String) = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val nul = (t: String) => lit(null).cast(t)
    val entries =
      numCols.zipWithIndex.map { case (c, i) =>
        if (isIntegral(c))
          struct(lit(i.toByte).as("col_id"), nul("string").as("val_str"),
            col(c).cast("long").as("val_long"), nul("double").as("val_dbl"))
        else
          struct(lit(i.toByte).as("col_id"), nul("string").as("val_str"),
            nul("long").as("val_long"), col(c).cast("double").as("val_dbl")) } ++
      strCols.zipWithIndex.map { case (c, i) =>
        struct(lit((numCols.size + i).toByte).as("col_id"),
          col(c).cast("string").as("val_str"),
          nul("long").as("val_long"), nul("double").as("val_dbl")) }
    val long = df
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.col_id"), col("e.val_str"), col("e.val_long"), col("e.val_dbl"))
    val combos = long
      .groupBy(col("col_id"), col("val_str"), col("val_long"), col("val_dbl"))
      .agg(lcount(lit(1)).as("cnt"))
    val colName = names.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (els, (c, i)) => when(col("col_id") === i, lit(c)).otherwise(els)
    }
    val present =
      col("val_str").isNotNull || col("val_long").isNotNull || col("val_dbl").isNotNull
    combos.groupBy(col("col_id")).agg(
      lsum(col("cnt")).as("n_rows"),
      lsum(when(present, lit(0L)).otherwise(col("cnt"))).as("n_nulls"),
      lcount(when(present, lit(1))).as("n_distinct"),
      coalesce(min(col("val_long")).cast("double"), min(col("val_dbl"))).as("min_num"),
      coalesce(max(col("val_long")).cast("double"), max(col("val_dbl"))).as("max_num"),
      min(col("val_str")).as("min_str"), max(col("val_str")).as("max_str"))
      .select(colName.as("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_num"), col("max_num"),
        col("min_str"), col("max_str"))
  }

  /** q82's production surface since round 7: per-column profile as a
    * UNION of per-column aggregates, one single-distinct aggregate per
    * column — the A/B winner over [[profile]]'s long-format explode
    * (round-6 advice #3; measurements in the q82 QueryDef doc).
    *
    * Why this shape wins: each branch scans ONLY its own column (the
    * parquet reader prunes to a one-column ReadSchema per branch, so
    * the union's total I/O equals ONE full-width scan of the profiled
    * columns), each single-distinct aggregate plans as Spark's standard
    * two-level partial-distinct — no Expand, no k× row multiplication
    * of the whole table, and the k branches run as independent parallel
    * stages of one job. The explode form multiplies the scanned table
    * ×k BEFORE its first aggregation (k = profiled column count) —
    * trading Spark's Expand for a hand-rolled Expand. At 100 TB wide
    * tables the same argument holds per branch; distinct-heavy columns
    * (ids) bound each branch's shuffle at its own cardinality, never
    * the sum of all columns'.
    *
    * [[profile]] stays as the single-scan alternative for storage that
    * CANNOT prune columns (CSV/JSON row formats, where k branches pay
    * k full scans and the explode's one scan wins).
    */
  def profileAgg(df: org.apache.spark.sql.DataFrame, numCols: Seq[String],
                 strCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val nulD = lit(null).cast("double")
    val nulS = lit(null).cast("string")
    val branches =
      numCols.map { c =>
        df.agg(lcount(lit(1)).as("n_rows"),
               lsum(when(col(c).isNull, lit(1L)).otherwise(lit(0L))).as("n_nulls"),
               count_distinct(col(c)).as("n_distinct"),
               min(col(c)).cast("double").as("min_num"),
               max(col(c)).cast("double").as("max_num"),
               max(nulS).as("min_str"), max(nulS).as("max_str"))
          .select(lit(c).as("col_name"), col("*"))
      } ++
      strCols.map { c =>
        df.agg(lcount(lit(1)).as("n_rows"),
               lsum(when(col(c).isNull, lit(1L)).otherwise(lit(0L))).as("n_nulls"),
               count_distinct(col(c)).as("n_distinct"),
               max(nulD).as("min_num"), max(nulD).as("max_num"),
               min(col(c).cast("string")).as("min_str"),
               max(col(c).cast("string")).as("max_str"))
          .select(lit(c).as("col_name"), col("*"))
      }
    // ROUND 14 negative A/B (the q171/q143 overlap precedent was tried
    // here): submitting each branch's one-row collect from a future and
    // assembling a LocalRelation measured 1.09 s vs 1.17 s isolated at
    // sf0.1 — ~7%, because AQE already materializes the union's six
    // independent branch stages concurrently; the residual is the
    // exact-distinct CPU itself sharing the cores, which no scheduling
    // change moves. The lazy union keeps the plan inspectable and the
    // query side-effect-free, so it stays.
    branches.reduce(_ unionByName _)
  }

  /** One simultaneous left-to-right non-overlapping BPE merge over a
    * space-joined symbol string (q89's inner step). Doubling the
    * separators before the replace lets two ADJACENT matches each keep
    * a boundary space ("a a a" + merge "a a" → "aa a", the greedy BPE
    * result), and the padding stops sub-token false matches ("xa b"
    * does not contain pair "a b"). Plain replace/regexp/trim — the
    * identical algebra runs in the SQL oracle. */
  def bpeMerge(sym: org.apache.spark.sql.Column, pair: org.apache.spark.sql.Column,
               merged: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(
      call_function("replace",
        concat(lit(" "), call_function("replace", sym, lit(" "), lit("  ")), lit(" ")),
        concat(lit(" "), call_function("replace", pair, lit(" "), lit("  ")), lit(" ")),
        concat(lit(" "), merged, lit(" "))),
      "\\s+", " "))

  /** Shared BPE learner (q89 trains, q90 encodes): `rounds` merge
    * iterations over a (word, wc) type table. Returns the final
    * per-type symbol strings and one summary row per round. */
  private def bpeLearn(words: org.apache.spark.sql.DataFrame, rounds: Int)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    var cur = words.select(col("word"), col("wc"),
      trim(regexp_replace(col("word"), "(.)", "$1 ")).as("sym"))
    val outs = (1 to rounds).map { i =>
      val pairs = cur.select(col("wc"), explode(wordNgrams(col("sym"), 2)).as("pair"))
        .groupBy(col("pair")).agg(lsum(col("wc")).as("c"))
      val top = pairs.orderBy(col("c").desc, col("pair")).limit(1)
        .select(col("pair"), regexp_replace(col("pair"), " ", "").as("merged"),
                col("c"))
      val next = cur.crossJoin(broadcast(top)).select(col("word"), col("wc"),
        bpeMerge(col("sym"), col("pair"), col("merged")).as("sym"))
        .localCheckpoint(true) // each round builds on the materialized previous
      val after = next.agg(
        lsum(size(tokens(col("sym"))).cast("long") * col("wc"))
          .as("corpus_symbols_after"))
      cur = next
      top.select(lit(i.toLong).as("merge_no"), col("pair"), col("merged"),
                 col("c").as("pair_count"))
        .crossJoin(after)
    }
    (cur, outs)
  }

  /** DuckDB mirror of [[bpeLearn]]: the words/s0 CTEs plus one
    * (pr, t, s, k) CTE quadruple per round, ending in s<rounds>. */
  private def bpeCtes(rounds: Int): String = {
    def round(i: Int, prev: String): String =
      s"""pr$i AS (SELECT w[i] || ' ' || w[i+1] AS pair, CAST(SUM(wc) AS BIGINT) AS c FROM (SELECT wc, string_split_regex(trim(sym), '\\s+') AS w FROM $prev) q, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS u(i) GROUP BY 1),
         |t$i AS (SELECT pair, replace(pair, ' ', '') AS merged, c FROM pr$i ORDER BY c DESC, pair LIMIT 1),
         |s$i AS (SELECT word, wc, trim(regexp_replace(replace(' ' || replace(sym, ' ', '  ') || ' ', ' ' || replace(pair, ' ', '  ') || ' ', ' ' || merged || ' '), '\\s+', ' ', 'g')) AS sym FROM $prev CROSS JOIN t$i),
         |k$i AS (SELECT CAST(SUM(wc * len(string_split_regex(trim(sym), '\\s+'))) AS BIGINT) AS corpus_symbols_after FROM s$i)""".stripMargin
    (s"""words AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM (SELECT unnest(${tsql.tokensOf("text")}) AS word FROM documents) GROUP BY 1),
        |s0 AS (SELECT word, wc, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym FROM words)""".stripMargin +:
      (1 to rounds).map(i => round(i, s"s${i - 1}"))).mkString(",\n")
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q79_gopher_rules",
      "rule-based document filtering with PER-RULE ATTRIBUTION (the Gopher/C4 heuristic battery, Rae et al. 2021 §A1.1): five named rules — minimum length, mean-word-length band, alphabetic-character ratio, required stopword diversity, duplicate-token ceiling — each sets a bit in a `reasons` mask so corpus curation can report WHY each document was dropped (rule ablation / filter debugging), keep = no bits set. Inference is MAP-ONLY: every rule is a codegen'd expression over the one tokens pass, zero shuffles at 100 TB, and the keep bit composes directly with the curation funnel",
      (s, d) => gopherRules(t(s, d, "documents")),
      Some(s"""WITH tk AS (SELECT doc_id, text, ${tsql.tokensOf("text")} AS tok FROM documents),
         |f AS (SELECT doc_id,
         |  CAST(len(tok) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(tok) = 0 THEN 0.0 ELSE CAST(list_aggregate(list_transform(tok, w -> length(w)), 'sum') AS DOUBLE) / len(tok) END AS mean_word_len,
         |  CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) END AS alpha_ratio,
         |  CAST(len(list_filter(list_distinct(tok), w -> w IN ('the','a','an','and','or','of','to','in'))) AS BIGINT) AS n_stop_distinct,
         |  CASE WHEN len(tok) = 0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok) END AS dup_frac
         |  FROM tk),
         |r AS (SELECT *, CAST((CASE WHEN n_tokens < 30 THEN 1 ELSE 0 END) + (CASE WHEN mean_word_len < 3.0 OR mean_word_len > 8.0 THEN 2 ELSE 0 END) + (CASE WHEN alpha_ratio < 0.75 THEN 4 ELSE 0 END) + (CASE WHEN n_stop_distinct < 2 THEN 8 ELSE 0 END) + (CASE WHEN dup_frac > 0.5 THEN 16 ELSE 0 END) AS BIGINT) AS reasons FROM f)
         |SELECT doc_id, n_tokens, mean_word_len, alpha_ratio, n_stop_distinct, dup_frac, reasons, CAST(CASE WHEN reasons = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep FROM r""".stripMargin.replace("\n", " "))),

    QueryDef("q80_cms_heavy_hitters",
      "Count-Min sketch frequency estimation (Cormode & Muthukrishnan 2005): the token stream folds into a deterministic 4x32 counter matrix via the fixed-size CmsBuildAgg (bounded-state partial aggregate: map-side combine, the shuffle moves one 1 KiB matrix per partition, never a key), then the top-20 true heavy hitters are point-queried against the broadcast sketch with the codegen'd cms_estimate. est >= true always (no undercount); the deliberately tiny width forces bucket collisions whose exact overcounts the oracle reproduces from the same (h1 + j*h2) mod w portable-hash family — the approximate operator is hash-checked, collisions included",
      (s, d) => {
        val width = 32
        val depth = 4
        val term = t(s, d, "documents").select(explode(tokens(col("text"))).as("term"))
        val cnt = term.groupBy(col("term")).agg(lcount(lit(1)).as("true_count"))
        val sketch = term.agg(CmsFns.cmsBuild(col("term"), width, depth).as("sk"))
        cnt.orderBy(col("true_count").desc, col("term")).limit(20)
          .crossJoin(broadcast(sketch))
          .select(col("term"), col("true_count"),
            CmsFns.cmsEstimate(col("sk"), col("term"), width, depth).as("cms_est"))
      },
      Some(s"""WITH tok AS (SELECT unnest(${tsql.tokensOf("text")}) AS term FROM documents),
         |cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS true_count FROM tok GROUP BY 1),
         |h AS (SELECT term, true_count, ${tsql.md5Half("term", 1)} AS h1, ${tsql.md5Half("term", 17)} AS h2 FROM cnt),
         |pos AS (SELECT term, true_count, j, (h1 + j * h2) % 32 AS pos FROM h, range(4) t(j)),
         |bucket AS (SELECT j, pos, SUM(true_count) AS bc FROM pos GROUP BY 1, 2),
         |est AS (SELECT term, true_count, CAST(MIN(bc) AS BIGINT) AS cms_est FROM pos JOIN bucket USING (j, pos) GROUP BY 1, 2)
         |SELECT term, true_count, cms_est FROM est ORDER BY true_count DESC, term LIMIT 20""".stripMargin.replace("\n", " "))),

    QueryDef("q81_priority_sample",
      "weight-sensitive fixed-size sampling: PRIORITY SAMPLING (Duffield-Lund-Thorup 2007) — per-language top-5 documents by priority = n_chars / u, u = (portableHash(doc_id)+1)/2^60 in (0,1]. Keeps a fixed COUNT per stratum with inclusion probability rising in the weight (vs the uniform fixed-RATE q33); w/u instead of the exponential-variate form because long->double casts and one division are IEEE-correctly-rounded in any engine while libm log is not — the selection is hash-exact and partitioning-independent. Map-only priority derivation + bounded-heap TopKPerKey reduction",
      (s, d) => graft.ext.Sampling.prioritySample(
          t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "doc_id", "n_chars", k = 5, seed = 17)
        .select(col("lang"), col("doc_id"), col("n_chars"),
                col("priority"), col("rk")),
      Some(s"""WITH p AS (SELECT lang, doc_id, n_chars,
         |  CAST(n_chars AS DOUBLE) / (CAST(${tsql.portableHash("CAST(doc_id AS VARCHAR)", 17)} + 1 AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)) AS priority
         |  FROM documents WHERE n_chars IS NOT NULL),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY priority DESC, doc_id) AS BIGINT) AS rk FROM p)
         |SELECT lang, doc_id, n_chars, priority, rk FROM r WHERE rk <= 5""".stripMargin.replace("\n", " "))),

    QueryDef("q83_collocations",
      "corpus collocation mining (phrase detection, the word2vec-phrases / NPMI-collocation step of tokenizer+vocab construction): bigram association scored by LIFT = N_tok * c(xy) / (c(x) * c(y)) — log(lift) IS pointwise mutual information, and log is monotone, so ranking by lift = ranking by PMI while using only IEEE-exact ops (two correctly-rounded multiplies + one divide; libm log is not cross-engine reproducible). Min count 5 screens flukes; top-20 by (lift desc, bigram). Plan: one tokens pass feeds both count tables (bigrams via the native one-pass NGramsExpr), vocabulary joins stay unhinted — AQE broadcasts when measured size allows (the vocab is corpus-sized at 100 TB, q63's rule)",
      (s, d) => {
        val docs = t(s, d, "documents")
        val uni = docs.select(explode(tokens(col("text"))).as("x"))
          .groupBy(col("x")).agg(lcount(lit(1)).as("cx"))
        val n = docs.select(tokenCount(col("text")).as("nt"))
          .agg(lsum(col("nt")).as("n_tok"))
        val bg = docs.select(explode(wordNgrams(col("text"), 2)).as("bigram"))
          .groupBy(col("bigram")).agg(lcount(lit(1)).as("cxy"))
          .filter(col("cxy") >= 5)
        bg.withColumn("x", split(col("bigram"), " ").getItem(0))
          .withColumn("y", split(col("bigram"), " ").getItem(1))
          .join(uni, Seq("x"))
          .join(uni.select(col("x").as("y"), col("cx").as("cy")), Seq("y"))
          .crossJoin(broadcast(n))
          .select(col("bigram"), col("cxy"), col("cx"), col("cy"),
            ((col("cxy").cast("double") * col("n_tok").cast("double")) /
             (col("cx").cast("double") * col("cy").cast("double"))).as("lift"))
          .orderBy(col("lift").desc, col("bigram")).limit(20)
      },
      Some(s"""WITH w AS (SELECT ${tsql.tokensOf("text")} AS w FROM documents),
         |n AS (SELECT CAST(SUM(len(w)) AS BIGINT) AS n_tok FROM w),
         |uni AS (SELECT unnest(w) AS x FROM w),
         |uc AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cx FROM uni GROUP BY 1),
         |bg AS (SELECT w[i] || ' ' || w[i+1] AS bigram FROM w, unnest(generate_series(1, greatest(len(w)-1, 0))) AS u(i)),
         |bgc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cxy FROM bg GROUP BY 1 HAVING COUNT(*) >= 5),
         |sp AS (SELECT bigram, cxy, string_split(bigram, ' ')[1] AS x, string_split(bigram, ' ')[2] AS y FROM bgc),
         |j AS (SELECT bigram, cxy, a.cx AS cx, b.cx AS cy FROM sp JOIN uc a USING (x) JOIN uc b ON b.x = sp.y)
         |SELECT bigram, cxy, cx, cy, (CAST(cxy AS DOUBLE) * CAST(n_tok AS DOUBLE)) / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)) AS lift
         |FROM j CROSS JOIN n ORDER BY lift DESC, bigram LIMIT 20""".stripMargin.replace("\n", " "))),

    QueryDef("q84_bigram_fluency",
      "bigram-LM fluency scoring (the KenLM-perplexity filter one model order up from q63's unigram): corpus bigram MLE P(y|x) = c(xy)/c(x), per-document mean conditional surprisal ln(c(x)/c(xy)) — rare TRANSITIONS score high even when both words are common, which is exactly what the unigram model cannot see. Surprisal is rounded to 4 decimals per distinct bigram BEFORE the per-doc sum (q63's parity recipe: the sum then runs on exact decimals, order-independent, and libm ln's engine-specific last ulp is rounded away). Both count joins are vocabulary-sized at scale — unhinted, AQE decides",
      (s, d) => {
        val docs = t(s, d, "documents")
        val bg = docs.select(col("doc_id"), explode(wordNgrams(col("text"), 2)).as("b"))
        val cxy = bg.groupBy(col("b")).agg(count(lit(1)).as("cxy"))
        val cx = docs.select(explode(tokens(col("text"))).as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("cx"))
        // every xy occurrence is an x occurrence, so cxy <= cx and
        // ln(cx/cxy) >= 0 — the floor-rounding precondition holds
        val lp = cxy.withColumn("x", split(col("b"), " ").getItem(0))
          .join(cx, "x")
          .select(col("b"),
            (floor(log(col("cx").cast("double") / col("cxy")) * 1e4 + 0.5) / 1e4).as("lp"))
        val perDoc = bg.join(lp, "b")
          .groupBy(col("doc_id"))
          .agg(lcount(lit(1)).as("n_bigrams"),
               (dsum(col("lp")) / count(lit(1))).as("m"))
        docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            portableRound6(coalesce(col("m"), lit(0.0))).as("mean_cond_surprisal"))
      },
      Some(s"""WITH s AS (SELECT doc_id, ${tsql.tokensOf("text")} AS w FROM documents),
         |bgt AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS b FROM s, unnest(generate_series(1, greatest(len(w)-1, 0))) AS u(i)),
         |cxy AS (SELECT b, count(*) AS cxy FROM bgt GROUP BY 1),
         |cx AS (SELECT x, count(*) AS cx FROM (SELECT unnest(w) AS x FROM s) GROUP BY 1),
         |lp AS (SELECT b, floor(ln(CAST(cx AS DOUBLE) / cxy) * 1e4 + 0.5) / 1e4 AS lp FROM cxy JOIN cx ON cx.x = string_split(cxy.b, ' ')[1]),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(SUM(CAST(lp AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS m FROM bgt JOIN lp USING (b) GROUP BY 1)
         |SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams, floor(COALESCE(pd.m, 0.0) * 1e6 + 0.5) / 1e6 AS mean_cond_surprisal FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin.replace("\n", " "))),

    QueryDef("q89_bpe_merges",
      "BPE merge learning (Sennrich et al. 2016 — the tokenizer TRAINING step, completing the tokenizer plane next to q47's pretokenizer and q34's vocab stats): 3 merge rounds over the word-type table, each = weighted adjacent-symbol-pair counts -> argmax pair (count desc, pair asc) -> simultaneous left-to-right non-overlapping merge across every word. The merge is pure string algebra replicated exactly in SQL: double the separators, pad, replace(' x  y ' -> ' xy '), renormalize — the doubled separator donates one space to each of two ADJACENT matches, so greedy BPE semantics ('a a a' + merge 'a a' -> 'aa a') come out of plain replace() identically in both engines. Scale shape: rounds iterate over the word-TYPE table (vocabulary-sized, not corpus-sized) with the 1-row argmax broadcast back — the corpus is touched once to build types",
      (s, d) => {
        val words = t(s, d, "documents")
          .select(explode(tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(lcount(lit(1)).as("wc"))
        bpeLearn(words, rounds = 3)._2.reduce(_ unionByName _)
      },
      Some(s"""WITH ${bpeCtes(3)}
         |SELECT CAST(1 AS BIGINT) AS merge_no, pair, merged, c AS pair_count, corpus_symbols_after FROM t1 CROSS JOIN k1
         |UNION ALL SELECT CAST(2 AS BIGINT), pair, merged, c, corpus_symbols_after FROM t2 CROSS JOIN k2
         |UNION ALL SELECT CAST(3 AS BIGINT), pair, merged, c, corpus_symbols_after FROM t3 CROSS JOIN k3""".stripMargin.replace("\n", " "))),

    QueryDef("q90_bpe_encode",
      "tokenizer ENCODE with the learned vocabulary (q89's merges applied back to the corpus): every document token maps to its word-type's post-merge symbol count — a vocabulary-table join, the same shape a real BPE tokenizer uses at scale (encode by type lookup, never re-deriving merges per token) — then per-language whitespace-token vs BPE-symbol totals and the symbols-per-token compression this 3-merge vocabulary buys. The merges are re-learned inside the query (self-contained for the oracle); the word-type table is vocabulary-sized, the corpus is touched twice (type build, encode join), both on the token hash key",
      (s, d) => {
        val docs = t(s, d, "documents")
        val words = docs.select(explode(tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(lcount(lit(1)).as("wc"))
        val (encoded, _) = bpeLearn(words, rounds = 3)
        val types = encoded.select(col("word"),
          size(tokens(col("sym"))).cast("long").as("ns"))
        docs.select(col("lang"), explode(tokens(col("text"))).as("word"))
          .join(types, "word")
          .groupBy(col("lang"))
          .agg(lcount(lit(1)).as("ws_tokens"),
               lsum(col("ns")).as("bpe_symbols"),
               portableRound6(sum(col("ns")).cast("double") / count(lit(1)))
                 .as("symbols_per_token"))
      },
      Some(s"""WITH ${bpeCtes(3)},
         |tokd AS (SELECT d.lang, unnest(${tsql.tokensOf("d.text")}) AS word FROM documents d),
         |ty AS (SELECT word, CAST(len(string_split_regex(trim(sym), '\\s+')) AS BIGINT) AS ns FROM s3),
         |j AS (SELECT lang, ns FROM tokd JOIN ty USING (word))
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS ws_tokens, CAST(SUM(ns) AS BIGINT) AS bpe_symbols, floor(CAST(SUM(ns) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS symbols_per_token FROM j GROUP BY 1""".stripMargin.replace("\n", " "))),

    QueryDef("q82_column_profile",
      "per-column data profiling: row/null/exact-distinct counts and min/max over six lineitem columns as a UNION of per-column single-distinct aggregates — each branch's scan prunes to a ONE-column ReadSchema, so the union's total I/O equals one full-width scan while every aggregate plans as Spark's two-level partial-distinct (no Expand, no kx row multiplication). Round-7 shootout (Prof3, same JVM, steady state, sf0.1): union ~1.0-1.3s suite-recorded vs 1.8-1.9s for the round-6 long-format explode (one scan but 600k rows x6 into 4-slot structs before the first aggregation) vs 2.4s for the single-agg Expand form (Spark's own multi-countDistinct); a distinct-only hybrid measured the same as union, proving the residual cost IS the six exact-distinct two-stage aggregates, not the min/max/null plumbing — the price of EXACT per-column cardinalities at 600k rows; at 100 TB each branch's shuffle is bounded by its own column's cardinality, and profile() remains the right shape only for non-columnar storage (CSV/JSON), where k branches would pay k full scans. Round-14 re-profile: 1.17 s isolated min-of-6 at sf0.1 (the r13 suite's 0.91 was a favorable window); a futures-overlap A/B measured 1.09 s - AQE already runs the six branch stages concurrently, so the floor is the exact-distinct CPU itself (negative result recorded at the operator). Round-15 PLAN-LEVEL A/B (VERDICT r14 #4, Prof12, same JVM, min-of-6 isolated at sf0.1, outputs proven row-equal): shipped union 0.73 s (this session's window; the 0.73-1.17 spread across sessions is the documented box variance) vs Spark 4.1's single-aggregate multi-count_distinct 8.58 s (the Expand path multiplies the 600k-row scan x7 before the first partial aggregate - 12x WORSE, the round-7 2.4 s negative grew with Spark 4's wider Expand) vs a two-column pairwise fusion 1.59 s (halves the branches but each pays an Expand x2 - still 2x worse). The union-of-6 single-distinct branches IS the floor plan; CLOSED as a decision, not an open problem; floor decision: FLOOR.md",
      (s, d) => profileAgg(t(s, d, "lineitem"),
        numCols = Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"),
        strCols = Seq("l_returnflag", "l_linestatus")),
      Some {
        def num(c: String) =
          s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct, CAST(MIN($c) AS DOUBLE) AS min_num, CAST(MAX($c) AS DOUBLE) AS max_num, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM lineitem"""
        def str(c: String) =
          s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct, CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, MIN($c) AS min_str, MAX($c) AS max_str FROM lineitem"""
        (Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice").map(num) ++
          Seq("l_returnflag", "l_linestatus").map(str)).mkString(" UNION ALL ")
      })
  )
}
