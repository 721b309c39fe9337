package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import graft.ops.Num._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Second batch of LLM-corpus operators: chunking, redaction, and
  * embedding centroids. */
object LlmOps2 {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q42_chunking",
      "token-window document chunking with overlap (context-window prep): 40-token chunks, stride 30",
      (s, d) => {
        val chunkTokens = 40
        val stride = 30
        val tok = tokens(col("text"))
        // chunk starts: 1, 1+stride, … while start ≤ token count
        t(s, d, "documents").select(
            col("doc_id"),
            tok.as("tok"),
            size(tok).as("n_tok"))
          .select(col("doc_id"), col("tok"),
            posexplode(sequence(lit(1), greatest(col("n_tok") - 1, lit(1)), lit(stride))))
          .filter(col("col") <= size(col("tok")))
          .select(col("doc_id"),
            col("pos").cast("long").as("chunk_idx"),
            concat_ws(" ", slice(col("tok"), col("col"), lit(chunkTokens))).as("chunk"),
            least(size(col("tok")) - col("col") + 1, lit(chunkTokens)).cast("long").as("chunk_tokens"))
      },
      // tok mirrors TextFunctions.tokens' empty-text guard: a blank doc
      // must yield [] (no chunks), not [''] (one empty chunk)
      Some("""WITH tk AS (SELECT doc_id, (CASE WHEN length(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(text), '\s+') END) AS tok FROM documents), st AS (SELECT doc_id, tok, i AS start, CAST((i - 1) / 30 AS BIGINT) AS chunk_idx FROM tk, unnest(generate_series(1, greatest(len(tok) - 1, 1), 30)) AS u(i) WHERE i <= len(tok)) SELECT doc_id, chunk_idx, array_to_string(tok[start:start+39], ' ') AS chunk, CAST(least(len(tok) - start + 1, 40) AS BIGINT) AS chunk_tokens FROM st""")),

    QueryDef("q43_redaction",
      "pattern redaction pass (PII-style scrub): mask long digit runs and emails, count hits",
      (s, d) =>
        t(s, d, "events").select(
          col("event_id"),
          regexp_replace(
            regexp_replace(col("props"), "[A-Za-z0-9.]+@[A-Za-z0-9.]+", "<EMAIL>"),
            "\\d{4,}", "<NUM>").as("props_redacted"),
          (length(col("props")) - length(regexp_replace(col("props"), "\\d", ""))).cast("long")
            .as("n_digits")),
      Some("""SELECT event_id, regexp_replace(regexp_replace(props, '[A-Za-z0-9.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'), '\d{4,}', '<NUM>', 'g') AS props_redacted, CAST(length(props) - length(regexp_replace(props, '\d', '', 'g')) AS BIGINT) AS n_digits FROM events""")),

    QueryDef("q47_bpe_tokens",
      "BPE-style pretokenizer counts: letter runs / digit runs / symbol runs (RE2-safe pattern, no lookaheads)",
      (s, d) => {
        // Column API, not expr(): the SQL literal parser would eat \s
        val pat = lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+")
        t(s, d, "documents").select(
            col("lang"),
            size(regexp_extract_all(col("text"), pat, lit(0))).cast("long").as("n_bpe"),
            tokenCount(col("text")).as("n_ws"))
          .groupBy(col("lang"))
          .agg(lsum(col("n_bpe")).as("bpe_tokens"),
               lsum(col("n_ws")).as("ws_tokens"),
               lcount(lit(1)).as("n_docs"))
      },
      Some("""SELECT lang, CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+', 0))) AS BIGINT) AS bpe_tokens, CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang""")),

    QueryDef("q51_tfidf_keywords",
      "per-document top-3 keywords by tf × rational inverse-df weight (corpus statistics / keyword extraction), ranked through the bounded-heap TopKPerKey operator",
      (s, d) => {
        import graft.functions.TextFunctions.tokens
        // the score is DEFINED as tf × (N+1)/(df+1) — a df-monotone
        // inverse-frequency weight chosen because IEEE +,/ are
        // correctly rounded (bit-identical across engines) while libm
        // log is not. NOTE: this is not log-idf under a monotone
        // rename — ACROSS terms the rational weight grows faster with
        // rarity, so the extracted keyword set can differ from
        // classical log-tf·idf (it up-weights rare terms harder); both
        // engines compute this same definition
        val tok = t(s, d, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        val tf = tok.groupBy(col("doc_id"), col("term"))
          .agg(lcount(lit(1)).as("tf"))
        // df from the tf table (already one row per (doc, term)): a
        // cheap second aggregate, no countDistinct shuffle. The df table
        // IS the corpus vocabulary — same object q63 refuses to assume
        // broadcastable at 100 TB — so no broadcast hint here either:
        // AQE picks broadcast when the measured size allows and falls
        // back to a sort-merge join on `term` when it doesn't
        val dfreq = tf.groupBy(col("term")).agg(lcount(lit(1)).as("df"))
        val n = t(s, d, "documents").agg(lcount(lit(1)).as("n_docs"))
        val scored = tf.join(dfreq, "term")
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"), col("tf"),
            (col("tf").cast("double") *
             ((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))).as("score"))
        val top = graft.plans.TopK.perKey(scored, Seq(col("doc_id")),
          Seq(col("score").desc, col("term")), 3)
        import org.apache.spark.sql.expressions.Window
        top.withColumn("rk", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("score").desc, col("term"))).cast("long"))
          .select(col("doc_id"), col("term"), col("tf"), col("score"), col("rk"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${graft.functions.TextFunctions.sql.tokensOf("text")}) AS term FROM documents), tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2), df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents), sc AS (SELECT doc_id, term, tf, CAST(tf AS DOUBLE) * ((n_docs + 1.0) / (df + 1.0)) AS score FROM tf JOIN df USING (term) CROSS JOIN n), r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rk FROM sc) SELECT doc_id, term, tf, score, rk FROM r WHERE rk <= 3""")),

    QueryDef("q44_centroids",
      "per-label embedding centroids (element-wise exact mean — IVF codebook construction)",
      (s, d) => t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("col").cast(DecimalType(38, 12))).cast("double") /
              count(lit(1))).as("mean_val"))
        .select(col("label"), col("pos").cast("long").as("dim"),
                round(col("mean_val"), 9).as("mean_val")),
      // DuckDB zips parallel unnests of equal length (no WITH ORDINALITY in 1.0)
      Some("""WITH e AS (SELECT label, unnest(embedding) AS x, unnest(generate_series(1, len(embedding))) AS ord FROM embeddings) SELECT label, CAST(ord - 1 AS BIGINT) AS dim, ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 9) AS mean_val FROM e GROUP BY label, ord""")),

    QueryDef("q74_quality_classifier",
      "model-based quality filtering (the fastText/FineWeb-Edu classifier stage): a deterministic linear model over the q26 feature vector, squashed by the RATIONAL sigmoid 0.5 + z/(2(1+|z|)) — same shape and range as the logistic, but built only from IEEE-exact ops (+,x,/,abs are correctly rounded per IEEE 754; libm exp is not), so scores are bit-identical across engines. Classifier inference is map-only: zero shuffles at 100 TB, and the keep decision composes directly with the curation funnel",
      (s, d) => {
        import graft.functions.TextFunctions._
        // weights are fixed model parameters (a trained classifier would
        // ship them the same way); z is evaluated STRICTLY left-to-right
        // in both engines — Catalyst does not reassociate double
        // arithmetic — so each +/x is the same correctly-rounded op
        val a = alphaRatio(col("text"))
        val sw = stopwordRatio(col("text"))
        val dg = digitRatio(col("text"))
        val al = avgTokenLen(col("text"))
        val tl = least(tokenCount(col("text")).cast("double") / lit(50.0), lit(1.0))
        val z = lit(-2.0) + lit(3.0) * a + lit(4.0) * sw - lit(6.0) * dg +
          lit(0.1) * al + lit(1.5) * tl
        val score = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
        t(s, d, "documents").select(
          col("doc_id"), score.as("score"),
          when(score >= 0.55, lit(1L)).otherwise(lit(0L)).as("keep"))
      },
      Some(s"""WITH ${LlmOps.textStatsCte},
         |f AS (SELECT doc_id, -2.0 + 3.0 * alpha_ratio + 4.0 * stopword_ratio - 6.0 * digit_ratio + 0.1 * avg_token_len + 1.5 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) AS z FROM q)
         |SELECT doc_id, 0.5 + z / (2.0 * (1.0 + abs(z))) AS score, CAST(CASE WHEN 0.5 + z / (2.0 * (1.0 + abs(z))) >= 0.55 THEN 1 ELSE 0 END AS BIGINT) AS keep FROM f""".stripMargin.replace("\n", " "))),

    QueryDef("q103_bm25_search",
      "BM25-ranked retrieval (Robertson-Sparck Jones; the IR operator next to q51's rational tf-idf): a fixed multi-term query set scored with the REAL log-idf BM25 (k1=1.2, b=0.75), top-10 docs per query through the bounded-heap TopKPerKey operator. Parity recipe: idf = ln((N-df+0.5)/(df+0.5)+1) is the one libm call, floor-rounded to 4 dp PER DISTINCT TERM (q63/q84's rule); the tf saturation term is pure IEEE +,x,/ over identical shapes so it is bit-identical unrounded; each (doc,term) contribution floor-rounds to 6 dp into DECIMAL(38,6) so the per-doc sum is exact and order-independent, and RANKING compares the decimals (never the cast doubles — two distinct decimals can collapse to one double and the engines would tie-break differently). Scale shape: the query-term list broadcasts and restricts the posting (tf) table FIRST, so everything after the one corpus tokenize pass is query-sized; df is computed over the restricted vocabulary only (identical values, no corpus-wide distinct); per-doc length is map-only from the scan. At 100 TB the tf/df tables are the precomputed inverted index this query reads — build once, serve many",
      (s, d) => {
        import graft.functions.TextFunctions.tokens
        import s.implicits._
        val docs = t(s, d, "documents")
        val qt = Seq((0L, "spark"), (0L, "hash"), (1L, "window"), (1L, "merge"),
                     (2L, "batch"), (2L, "sort")).toDF("query_id", "term")
        val qv = qt.select(col("term")).distinct()
        val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        val tf = tok.groupBy(col("doc_id"), col("term")).agg(lcount(lit(1)).as("tf"))
        // df over the restricted vocabulary only — same values as a
        // corpus-wide df for these terms, none of the cost
        val dfq = tf.join(broadcast(qv), "term")
          .groupBy(col("term")).agg(lcount(lit(1)).as("df"))
        val dl = docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
        val st = dl.agg(lcount(lit(1)).as("n_docs"), sum(col("dl")).as("n_tok"))
        val idf4 = floor(
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
            * 1e4 + 0.5) / 1e4
        val tfc = (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / (col("n_tok").cast("double") / col("n_docs")))))
        val sc = tf.join(broadcast(qt), "term")
          .join(broadcast(dfq), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(st))
          .select(col("query_id"), col("doc_id"),
            (idf4 * tfc).as("contrib"))
        val perDoc = sc.groupBy(col("query_id"), col("doc_id"))
          .agg(sum6(col("contrib")).as("sd"), lcount(lit(1)).as("n_terms_hit"))
        val top = graft.plans.TopK.perKey(perDoc, Seq(col("query_id")),
          Seq(col("sd").desc, col("doc_id")), 10)
        import org.apache.spark.sql.expressions.Window
        top.withColumn("rk", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("sd").desc, col("doc_id"))).cast("long"))
          .select(col("query_id"), col("doc_id"),
            col("sd").cast("double").as("score"), col("n_terms_hit"), col("rk"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest(${graft.functions.TextFunctions.sql.tokensOf("text")}) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |qt AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'hash'), (1, 'window'), (1, 'merge'), (2, 'batch'), (2, 'sort')) AS q(query_id, term)),
         |qv AS (SELECT DISTINCT term FROM qt),
         |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf JOIN qv USING (term) GROUP BY 1),
         |dl AS (SELECT doc_id, CAST(len(${graft.functions.TextFunctions.sql.tokensOf("text")}) AS BIGINT) AS dl FROM documents),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_tok FROM dl),
         |sc AS (SELECT query_id, tf.doc_id AS doc_id, CAST(floor((floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * 1e4 + 0.5) / 1e4) * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(n_tok AS DOUBLE) / n_docs))))) * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6)) AS contrib FROM tf JOIN qt USING (term) JOIN dfq USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
         |pd AS (SELECT query_id, doc_id, SUM(contrib) AS sd, CAST(COUNT(*) AS BIGINT) AS n_terms_hit FROM sc GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, sd, n_terms_hit, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sd DESC, doc_id) AS BIGINT) AS rk FROM pd)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, CAST(sd AS DOUBLE) AS score, n_terms_hit, rk FROM r WHERE rk <= 10""".stripMargin.replace("\n", " "))),

    QueryDef("q104_corpus_drift",
      "token-distribution drift between two corpus snapshots (the monthly-crawl monitoring op: is this month's crawl the same distribution we trained on?): per-language KL divergence BOTH directions between snapshot A (even doc ids) and snapshot B (odd doc ids), add-1 smoothed over the union vocabulary. Parity recipe: per-term surprisal surpX = ln((N_X+V)/(c_X+1)) is non-negative (c_X <= N_X, V >= 1) and floor-rounds to 4 dp per distinct term; ln(pA/pB) = surpB - surpA EXACTLY after rounding, each signed contribution pA*(surpB-surpA) floor-rounds to 6 dp into DECIMAL(38,6), and the per-lang sum is exact decimals — order-independent (the q63/q84 recipe extended to signed terms: floor(x*1e6+0.5) is the same half-toward-+inf rule in both engines for either sign). Scale shape: the corpus is touched ONCE (tokenize -> per-(lang,term,snapshot) counts); everything downstream is vocabulary-sized (q63's rule: the vocab table gets no broadcast assumption), and the per-lang totals table is |langs| rows — genuinely broadcastable. Drift monitoring between 100 TB crawls costs one pass over each",
      (s, d) => {
        import graft.functions.TextFunctions.tokens
        val docs = t(s, d, "documents")
        val tok = docs.select(col("lang"), (col("doc_id") % 2).as("snap"),
          explode(tokens(col("text"))).as("term"))
        val c = tok.groupBy(col("lang"), col("term"))
          .agg(sum(when(col("snap") === 0, lit(1L)).otherwise(lit(0L))).as("ca"),
               sum(when(col("snap") === 1, lit(1L)).otherwise(lit(0L))).as("cb"))
        val st = c.groupBy(col("lang"))
          .agg(lcount(lit(1)).as("v"), sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
        val surpA = floor(log((col("na") + col("v")) / (col("ca") + lit(1.0))) * 1e4 + 0.5) / 1e4
        val surpB = floor(log((col("nb") + col("v")) / (col("cb") + lit(1.0))) * 1e4 + 0.5) / 1e4
        val kab = (col("ca") + lit(1.0)) / (col("na") + col("v")) * (surpB - surpA)
        val kba = (col("cb") + lit(1.0)) / (col("nb") + col("v")) * (surpA - surpB)
        c.join(broadcast(st), "lang")
          .select(col("lang"), col("v"), col("na"), col("nb"),
            kab.as("kab"), kba.as("kba"))
          .groupBy(col("lang"))
          .agg(min(col("v")).as("n_terms"), min(col("na")).as("n_tok_a"),
               min(col("nb")).as("n_tok_b"),
               sum6(col("kab")).cast("double").as("kl_ab"),
               sum6(col("kba")).cast("double").as("kl_ba"))
      },
      Some(s"""WITH tok AS (SELECT lang, doc_id % 2 AS snap, unnest(${graft.functions.TextFunctions.sql.tokensOf("text")}) AS term FROM documents),
         |c AS (SELECT lang, term, CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca, CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb FROM tok GROUP BY 1, 2),
         |st AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c GROUP BY 1),
         |sc AS (SELECT c.lang AS lang, v, na, nb, CAST(floor((ca + 1.0) / (na + v) * ((floor(ln((nb + v) / (cb + 1.0)) * 1e4 + 0.5) / 1e4) - (floor(ln((na + v) / (ca + 1.0)) * 1e4 + 0.5) / 1e4)) * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6)) AS kab, CAST(floor((cb + 1.0) / (nb + v) * ((floor(ln((na + v) / (ca + 1.0)) * 1e4 + 0.5) / 1e4) - (floor(ln((nb + v) / (cb + 1.0)) * 1e4 + 0.5) / 1e4)) * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6)) AS kba FROM c JOIN st USING (lang))
         |SELECT lang, MIN(v) AS n_terms, MIN(na) AS n_tok_a, MIN(nb) AS n_tok_b, CAST(SUM(kab) AS DOUBLE) AS kl_ab, CAST(SUM(kba) AS DOUBLE) AS kl_ba FROM sc GROUP BY lang""".stripMargin.replace("\n", " ")))
  )
}
