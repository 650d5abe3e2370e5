package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{CorpusStats, Retrieval, Similarity, TextAnalysis}
import OracleSql._

/** Corpus-statistics surface over `documents` ([[graft.ops.CorpusStats]]):
  * unigram LM scoring, PMI collocations, vocabulary coverage, per-doc
  * token entropy, and mixture weights. All five are oracle-gated — every
  * `ln`/`sqrt` is rounded before aggregation and every sum of rounded
  * doubles accumulates in DECIMAL, so DuckDB reproduces the numbers
  * bit-for-bit (the q_tfidf portability result extended to the LM-stats
  * family).
  */
object CorpusStatsQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")

  private def toks = TextAnalysis.tokens(col("text"))

  private def tokStream(s: SparkSession, dir: String): DataFrame =
    CorpusStats.tokenStream(docs(s, dir), "doc_id", toks)

  private val BpeK = 5
  /** q_token_budget's training-token target (≈4 epochs over the sf0.01
    * corpus — large enough that every source oversamples, so the epochs
    * column actually exercises the >1 branch). */
  private val BudgetTokens = 200000L

  // ── Oracles ───────────────────────────────────────────────────────────

  /** Unrolled CTE chain mirroring [[CorpusStats.bpeTrain]] step for step
    * (the q_pagerank fixed-iteration oracle pattern): v0 is the two-space
    * symbolization of the word-frequency table; each round derives pair
    * counts from v(i−1), takes the (cnt DESC, a, b) winner, and merges it
    * with the same `replace` call the engine runs.
    */
  private def bpeChainSql(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
            SELECT wc, unnest(list_transform(
                generate_series(1, len(string_split(trim(sym), '  ')) - 1),
                j -> struct_pack(a := string_split(trim(sym), '  ')[j],
                                 b := string_split(trim(sym), '  ')[j + 1]))) AS p
            FROM v${i - 1}),
          t$i AS (
            SELECT $i AS step, p.a AS a, p.b AS b,
              CAST(SUM(wc) AS BIGINT) AS cnt
            FROM p$i GROUP BY p.a, p.b
            ORDER BY cnt DESC, a, b LIMIT 1),
          v$i AS (
            -- LEFT JOIN ON TRUE mirrors the engine: an exhausted merge
            -- round (empty t$i) passes the vocabulary through unchanged.
            -- The pattern's sentinel-space flanks anchor both symbol
            -- boundaries (see CorpusStats.bpeTrain)
            SELECT CASE WHEN t$i.a IS NULL THEN sym
                        ELSE replace(sym, ' ' || t$i.a || '  ' || t$i.b || ' ',
                                     ' ' || t$i.a || t$i.b || ' ') END AS sym, wc
            FROM v${i - 1} LEFT JOIN t$i ON TRUE)"""
    }.mkString(",\n")
    s"""WITH $TokCte,
          v0 AS (
            SELECT ' ' || array_to_string(list_transform(
                generate_series(1, length(tok)), i -> tok[i]), '  ') || ' '
              AS sym,
              count(*) AS wc
            FROM tok GROUP BY tok),
          $rounds"""
  }

  private def bpeTrainSql(k: Int): String = {
    val union = (1 to k).map(i => s"SELECT * FROM t$i").mkString(" UNION ALL ")
    s"""${bpeChainSql(k)}
        SELECT step, a, b, cnt FROM ($union) ORDER BY step"""
  }

  private def bpeApplySql(k: Int): String =
    s"""${bpeChainSql(k)},
          units AS (
            SELECT unnest(string_split(trim(sym), '  ')) AS unit, wc FROM v$k)
        SELECT unit, CAST(SUM(wc) AS BIGINT) AS cnt
        FROM units GROUP BY unit
        ORDER BY cnt DESC, unit LIMIT 20"""

  /** [[bpeChainSql]]'s final vocabulary as a (word → unit count)
    * dictionary joined back onto the token stream — the inference half's
    * oracle (unit lists never contain whitespace, so collapsing the
    * two-space separators reconstructs the word).
    */
  private def bpeSegmentSql(k: Int): String =
    s"""${bpeChainSql(k)},
          w AS (
            SELECT replace(trim(sym), '  ', '') AS tok,
              CAST(len(string_split(trim(sym), '  ')) AS BIGINT) AS nu
            FROM v$k)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          CAST(SUM(nu) AS BIGINT) AS n_units
        FROM tok JOIN w USING (tok)
        GROUP BY doc_id ORDER BY doc_id"""

  private val TokCte =
    s"tok AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents)"

  /** The q_bm25 scoring chain as a reusable fragment ending in
    * `bmk(doc_id, bm25, n_hit)` — the top-`limit` cut for the fixed
    * 3-term query; shared by q_bm25 and q_hard_negatives so the ranker
    * under the mining query is EXACTLY the gated one. */
  private def bm25Cte(limit: Int): String =
    s"""dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            stats AS (SELECT count(*) AS n_docs,
                        CAST(SUM(dl) AS BIGINT) AS tok_total FROM dl),
            qtf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
                    WHERE tok IN ('spark', 'merge', 'vector')
                    GROUP BY doc_id, tok),
            dfc AS (SELECT tok, count(*) AS df FROM qtf GROUP BY tok),
            s AS (
              -- tf * CAST(2.2 AS DOUBLE): a bare 2.2 would multiply in
              -- DuckDB DECIMAL (exact 6.6 -> nearest double) where Spark
              -- multiplies doubles (3 * 2.2d = 6.6000000000000005) — a
              -- pre-round ulp divergence waiting for a half boundary
              -- same for the idf ratio: both operands cast to DOUBLE so
              -- the division is IEEE, not DuckDB DECIMAL/DECIMAL
              SELECT q.doc_id,
                ROUND(ROUND(ln((CAST(n_docs - df AS DOUBLE) + 0.5)
                               / (CAST(df AS DOUBLE) + 0.5) + 1), 6)
                        * (tf * CAST(2.2 AS DOUBLE))
                      / (tf + 1.2 * (0.25 + 0.75 * d.dl
                           / (CAST(tok_total AS DOUBLE) / n_docs))), 6) AS s
              FROM qtf q
              JOIN dfc USING (tok)
              JOIN dl d USING (doc_id)
              CROSS JOIN stats),
            bmk AS (
              SELECT doc_id,
                ROUND(CAST(SUM(CAST(s AS DECIMAL(28,10))) AS DOUBLE), 6)
                  AS bm25,
                CAST(count(*) AS BIGINT) AS n_hit
              FROM s GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT $limit)"""

  val queries: Seq[Query] = Seq(
    // ── Unigram LM score (perplexity proxy) ─────────────────────────────
    Query("q_unigram_lm", ((s, dir) =>
      CorpusStats.unigramLogProb(tokStream(s, dir)).orderBy("doc_id")),
      s"""WITH $TokCte,
            dc AS (SELECT doc_id, tok, count(*) AS dc FROM tok
                   GROUP BY doc_id, tok),
            freq AS (SELECT tok, CAST(SUM(dc) AS BIGINT) AS c FROM dc
                     GROUP BY tok),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM freq),
            lp AS (
              SELECT doc_id, dc, ROUND(ln(c / n_total), 6) AS lp
              FROM dc JOIN freq USING (tok) CROSS JOIN tot)
          SELECT doc_id, CAST(SUM(dc) AS BIGINT) AS n_tokens,
            ROUND(CAST(SUM(CAST(dc * lp AS DECIMAL(28,10))) AS DOUBLE)
                  / SUM(dc), 6) AS mean_logprob
          FROM lp GROUP BY doc_id ORDER BY doc_id"""),

    // ── Smoothed bigram LM score (transition-aware perplexity proxy) ────
    Query("q_bigram_lm", ((s, dir) =>
      CorpusStats.bigramLogProb(docs(s, dir), "doc_id", toks)
        .orderBy("doc_id")),
      s"""WITH $TokCte,
            t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
            bgs AS (
              SELECT doc_id, unnest(list_transform(
                  generate_series(1, greatest(len(toks) - 1, 0)),
                  i -> toks[i] || ' ' || toks[i + 1])) AS bg
              FROM t),
            db AS (SELECT doc_id, bg, count(*) AS dc FROM bgs
                   GROUP BY doc_id, bg),
            bf AS (SELECT bg, CAST(SUM(dc) AS BIGINT) AS c_ab FROM db
                   GROUP BY bg),
            uni AS (SELECT tok, count(*) AS c_a FROM tok GROUP BY tok),
            vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
            lp AS (
              SELECT doc_id, dc,
                ROUND(ln((c_ab + 1) / (c_a + v)), 6) AS lp
              FROM db
              JOIN bf USING (bg)
              JOIN uni ON uni.tok = split_part(bg, ' ', 1)
              CROSS JOIN vv)
          SELECT doc_id, CAST(SUM(dc) AS BIGINT) AS n_bigrams,
            ROUND(CAST(SUM(CAST(dc * lp AS DECIMAL(28,10))) AS DOUBLE)
                  / SUM(dc), 6) AS mean_logprob
          FROM lp GROUP BY doc_id ORDER BY doc_id"""),

    // ── PMI collocations ────────────────────────────────────────────────
    Query("q_collocations", ((s, dir) =>
      CorpusStats.pmiCollocations(docs(s, dir), "doc_id", toks,
          minCount = 10, k = 50)
        .orderBy("rank")),
      s"""WITH $TokCte,
            t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
            bgs AS (
              SELECT unnest(list_transform(
                  generate_series(1, greatest(len(toks) - 1, 0)),
                  i -> toks[i] || ' ' || toks[i + 1])) AS bg
              FROM t),
            bg AS (SELECT bg, count(*) AS c_ab FROM bgs GROUP BY bg
                   HAVING count(*) >= 10),
            uni AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
            nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni),
            nb AS (SELECT CAST(SUM(greatest(len($ToksSql) - 1, 0)) AS BIGINT)
                     AS n_big FROM documents),
            scored AS (
              SELECT bg.bg, bg.c_ab,
                ROUND(ln((c_ab / n_big)
                      / ((a.c / n_uni) * (b.c / n_uni))), 6) AS pmi
              FROM bg
              JOIN uni a ON a.tok = split_part(bg.bg, ' ', 1)
              JOIN uni b ON b.tok = split_part(bg.bg, ' ', 2)
              CROSS JOIN nu CROSS JOIN nb),
            ranked AS (
              SELECT *, CAST(row_number() OVER (ORDER BY pmi DESC, bg ASC)
                             AS INT) AS rank
              FROM scored)
          SELECT rank, bg, c_ab, pmi FROM ranked
          WHERE rank <= 50 ORDER BY rank"""),

    // ── Vocabulary coverage curve ───────────────────────────────────────
    Query("q_vocab", ((s, dir) =>
      CorpusStats.vocabCoverage(tokStream(s, dir), k = 100).orderBy("rank")),
      s"""WITH $TokCte,
            freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM freq),
            ranked AS (
              SELECT tok, c,
                CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS INT)
                  AS rank,
                CAST(SUM(c) OVER (ORDER BY c DESC, tok ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS cum
              FROM freq)
          SELECT rank, tok, c, ROUND(cum / n_total, 6) AS coverage
          FROM ranked CROSS JOIN tot
          WHERE rank <= 100 ORDER BY rank"""),

    // ── Zipf-law fit over the top-100 frequency ranks ───────────────────
    // OLS slope of ln(freq) on ln(rank) — natural corpora sit near −1;
    // a flat slope flags template/spam floods, a cliff flags synthetic
    // vocabulary collapse (the corpus-health companion of q_vocab).
    // Portability: both lns rounded 6 per rank row (the repo-wide ln
    // discipline), then the q_regression decimal moment-sum OLS over the
    // 100-row cut — the corpus-scale work is only the frequency
    // aggregate; the fit itself is constant-size.
    Query("q_zipf_fit", ((s, dir) => {
      val dec = "decimal(30,16)"
      CorpusStats.vocabCoverage(tokStream(s, dir), k = 100)
        .select(col("rank"), col("c"))
        .withColumn("lx", round(log(col("rank").cast("double")), 6))
        .withColumn("ly", round(log(col("c").cast("double")), 6))
        .agg(count(lit(1)).as("n"),
          sum(col("lx").cast(dec)).cast("double").as("sx"),
          sum(col("ly").cast(dec)).cast("double").as("sy"),
          sum((col("lx") * col("ly")).cast(dec)).cast("double").as("sxy"),
          sum((col("lx") * col("lx")).cast(dec)).cast("double").as("sxx"))
        .withColumn("slope",
          (col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
            / (col("n").cast("double") * col("sxx") - col("sx") * col("sx")))
        .select(col("n"),
          round(col("slope"), 6).as("zipf_slope"),
          round((col("sy") - col("slope") * col("sx"))
            / col("n").cast("double"), 6).as("intercept"))
    }),
      s"""WITH $TokCte,
            freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
            ranked AS (
              SELECT c, CAST(row_number() OVER (ORDER BY c DESC, tok ASC)
                             AS INT) AS rank
              FROM freq),
            lg AS (
              SELECT ROUND(ln(CAST(rank AS DOUBLE)), 6) AS lx,
                ROUND(ln(CAST(c AS DOUBLE)), 6) AS ly
              FROM ranked WHERE rank <= 100),
            m AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CAST(lx AS DECIMAL(30,16))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(ly AS DECIMAL(30,16))) AS DOUBLE) AS sy,
                CAST(SUM(CAST(lx * ly AS DECIMAL(30,16))) AS DOUBLE) AS sxy,
                CAST(SUM(CAST(lx * lx AS DECIMAL(30,16))) AS DOUBLE) AS sxx
              FROM lg)
          SELECT n,
            ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
            ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
                  6) AS intercept
          FROM m"""),

    // ── Per-language OOV rate under a global top-500 vocab cut ──────────
    // The tokenizer-fairness number: how much worse a frequency-built
    // global vocabulary serves each language (CorpusStats.oovRate;
    // k-row vocab broadcast, two map-side-combined corpus aggregates).
    Query("q_oov_rate", ((s, dir) =>
      CorpusStats.oovRate(docs(s, dir), "lang", toks, k = 500)
        .orderBy("lang")),
      s"""WITH tokl AS (
            SELECT lang, unnest($ToksSql) AS tok FROM documents),
          vocab AS (
            SELECT tok FROM (
              SELECT tok, count(*) AS c FROM tokl GROUP BY tok
              ORDER BY c DESC, tok ASC LIMIT 500))
          SELECT t.lang, COUNT(*) AS n_tokens,
            CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS covered,
            ROUND(1.0 - CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0
                                  END) AS DOUBLE) / COUNT(*), 6) AS oov_rate
          FROM tokl t LEFT JOIN vocab v ON t.tok = v.tok
          GROUP BY t.lang ORDER BY t.lang"""),

    // ── Per-doc token entropy + type–token ratio ────────────────────────
    Query("q_doc_entropy", ((s, dir) =>
      CorpusStats.docEntropy(tokStream(s, dir)).orderBy("doc_id")),
      s"""WITH $TokCte,
            cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok
                    GROUP BY doc_id, tok),
            agg AS (
              SELECT doc_id,
                CAST(SUM(c) AS BIGINT) AS n_tokens,
                count(*) AS n_distinct,
                SUM(CAST(c * ROUND(ln(c), 6) AS DECIMAL(28,10))) AS s
              FROM cnt GROUP BY doc_id)
          SELECT doc_id, n_tokens, n_distinct,
            ROUND(ln(n_tokens) - CAST(s AS DOUBLE) / n_tokens, 6) AS entropy,
            ROUND(n_distinct / n_tokens, 6) AS ttr
          FROM agg ORDER BY doc_id"""),

    // ── Temperature-scaled mixture weights (T = 1/2) ────────────────────
    Query("q_mixture", ((s, dir) =>
      CorpusStats.mixtureWeights(docs(s, dir), "lang", size(toks))
        .orderBy("grp")),
      s"""WITH d AS (
            SELECT lang AS grp, len($ToksSql) AS nt FROM documents),
          g AS (
            SELECT grp, count(*) AS n_docs,
              CAST(SUM(nt) AS BIGINT) AS grp_tokens
            FROM d GROUP BY grp),
          s AS (
            SELECT *, CAST(ROUND(sqrt(grp_tokens), 6) AS DECIMAL(28,10)) AS s
            FROM g)
          SELECT grp, n_docs, grp_tokens,
            ROUND(grp_tokens / CAST(SUM(grp_tokens) OVER () AS BIGINT), 6)
              AS p_raw,
            ROUND(CAST(s AS DOUBLE) / CAST(SUM(s) OVER () AS DOUBLE), 6)
              AS w_sampled
          FROM s ORDER BY grp"""),

    // ── Token-budget data recipe (per-source epochs table) ──────────────
    // q_mixture's weights turned into a sampling PLAN: per source, the
    // target token count under a fixed training budget and the implied
    // oversampling factor (epochs > 1 = the source repeats — the
    // overfitting-risk column of a LLaMA-style data table). Group-count
    // arithmetic over the single mixture aggregate
    // (CorpusStats.tokenBudgetPlan).
    Query("q_token_budget", ((s, dir) =>
      CorpusStats.tokenBudgetPlan(docs(s, dir), "source", size(toks),
          budget = BudgetTokens)
        .orderBy("grp")),
      s"""WITH d AS (
            SELECT source AS grp, len($ToksSql) AS nt FROM documents),
          g AS (
            SELECT grp, count(*) AS n_docs,
              CAST(SUM(nt) AS BIGINT) AS grp_tokens
            FROM d GROUP BY grp),
          s AS (
            SELECT *, CAST(ROUND(sqrt(grp_tokens), 6) AS DECIMAL(28,10)) AS s
            FROM g),
          w AS (
            SELECT grp, n_docs, grp_tokens,
              ROUND(CAST(s AS DOUBLE) / CAST(SUM(s) OVER () AS DOUBLE), 6)
                AS w_sampled
            FROM s),
          p AS (
            SELECT *, CAST(floor($BudgetTokens.0 * w_sampled) AS BIGINT)
              AS target_tokens
            FROM w)
          SELECT grp, n_docs, grp_tokens, w_sampled, target_tokens,
            ROUND(CAST(target_tokens AS DOUBLE) / grp_tokens, 6) AS epochs
          FROM p ORDER BY grp"""),

    // ── Nucleus vocabulary cut (top-p mass coverage per language) ───────
    // How many distinct tokens cover 90% of each language's token mass —
    // the vocabulary-budget read behind tokenizer sizing (q_vocab gives
    // the top-k list; this gives the coverage COUNT). Exact integers end
    // to end: per-(lang, token) counts, the (count desc, token asc)
    // running sum per language, and the crossing test 10·(cum − c) <
    // 9·total — no doubles until the closing shares. Per-lang windows
    // over the token-distinct relation (vocabulary-scale — sub-linear in
    // corpus size by Heaps' law, the same class as scoreBuckets).
    Query("q_nucleus_vocab", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val tc = docs(s, dir)
        .select(col("lang"), explode(toks).as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("c"))
      val w = W.partitionBy(col("lang"))
        .orderBy(desc("c"), asc("token"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      tc.select(col("lang"), col("c"),
          sum(col("c")).over(w).as("cum"),
          sum(col("c")).over(W.partitionBy(col("lang"))).as("total"),
          count(lit(1)).over(W.partitionBy(col("lang"))).as("vocab"))
        .groupBy(col("lang"))
        .agg(max(col("vocab")).as("vocab_size"),
          max(col("total")).as("total_tokens"),
          sum(when(lit(10L) * (col("cum") - col("c"))
            < lit(9L) * col("total"), 1L).otherwise(0L)).as("nucleus_90"))
        .select(col("lang"), col("vocab_size"), col("total_tokens"),
          col("nucleus_90"),
          round(col("nucleus_90").cast("double") / col("vocab_size"), 6)
            .as("nucleus_share"))
        .orderBy("lang")
    }),
      s"""WITH tc AS (
            SELECT lang, tok AS token, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT lang, unnest($ToksSql) AS tok FROM documents)
            GROUP BY 1, 2),
          r AS (SELECT lang, c,
              SUM(c) OVER (PARTITION BY lang ORDER BY c DESC, token ASC
                ROWS UNBOUNDED PRECEDING) AS cum,
              SUM(c) OVER (PARTITION BY lang) AS total,
              count(*) OVER (PARTITION BY lang) AS vocab
            FROM tc)
          SELECT lang, CAST(max(vocab) AS BIGINT) AS vocab_size,
            CAST(max(total) AS BIGINT) AS total_tokens,
            CAST(SUM(CASE WHEN 10 * (cum - c) < 9 * total THEN 1 ELSE 0 END)
              AS BIGINT) AS nucleus_90,
            ROUND(CAST(SUM(CASE WHEN 10 * (cum - c) < 9 * total
                THEN 1 ELSE 0 END) AS DOUBLE) / max(vocab), 6)
              AS nucleus_share
          FROM r GROUP BY lang ORDER BY lang"""),

    // ── CCNet-style per-language perplexity buckets ─────────────────────
    // Unigram-LM score → per-lang tercile thresholds → head/middle/tail.
    // Composes q_unigram_lm's scoring with the q_percentiles-portable
    // exact-quantile pair; thresholds broadcast back (group-count rows).
    Query("q_ppl_buckets", ((s, dir) => {
      val lm = CorpusStats.unigramLogProb(tokStream(s, dir))
      val scored = lm.join(docs(s, dir).select("doc_id", "lang"), "doc_id")
      CorpusStats.scoreBuckets(scored, "lang", "mean_logprob")
        .select(col("doc_id"), col("lang"), col("mean_logprob"),
          col("t_lo"), col("t_hi"), col("bucket"))
        .orderBy("doc_id")
    }),
      s"""WITH $TokCte,
            dc AS (SELECT doc_id, tok, count(*) AS dc FROM tok
                   GROUP BY doc_id, tok),
            freq AS (SELECT tok, CAST(SUM(dc) AS BIGINT) AS c FROM dc
                     GROUP BY tok),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM freq),
            lp AS (
              SELECT doc_id, dc, ROUND(ln(c / n_total), 6) AS lp
              FROM dc JOIN freq USING (tok) CROSS JOIN tot),
            lm AS (
              SELECT doc_id,
                ROUND(CAST(SUM(CAST(dc * lp AS DECIMAL(28,10))) AS DOUBLE)
                      / SUM(dc), 6) AS mean_logprob
              FROM lp GROUP BY doc_id),
            scored AS (
              SELECT lm.doc_id, d.lang, lm.mean_logprob
              FROM lm JOIN documents d USING (doc_id)),
            th AS (
              SELECT lang,
                ROUND(quantile_cont(mean_logprob, 0.3333333333333333), 6)
                  AS t_lo,
                ROUND(quantile_cont(mean_logprob, 0.6666666666666666), 6)
                  AS t_hi
              FROM scored GROUP BY lang)
          SELECT doc_id, lang, mean_logprob, t_lo, t_hi,
            CASE WHEN mean_logprob >= t_hi THEN 'head'
                 WHEN mean_logprob >= t_lo THEN 'middle'
                 ELSE 'tail' END AS bucket
          FROM scored JOIN th USING (lang) ORDER BY doc_id"""),

    // ── CMS-prefiltered exact heavy hitters ─────────────────────────────
    // Count-Min-Sketch pass 1 (map-side mergeable counters), broadcast
    // sketch gates pass 2 so the exact aggregation shuffles only
    // candidate tokens. Exact by the no-under-count property; the oracle
    // is the plain exact HAVING query.
    Query("q_heavy_hitters", ((s, dir) =>
      CorpusStats.heavyHitters(tokStream(s, dir), phi = 0.002)
        .orderBy(desc("cnt"), col("tok"))),
      // the CMS pre-pass changes the plan, never the answer (no-under-count
      // superset + exact HAVING) — the oracle is the exact query
      s"""WITH $TokCte,
            tot AS (SELECT count(*) AS n FROM tok),
            hh AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok
                   GROUP BY tok)
          SELECT tok, cnt FROM hh CROSS JOIN tot
          WHERE cnt >= CEIL(0.002 * n)
          ORDER BY cnt DESC, tok"""),

    // ── Okapi BM25 top-k retrieval ──────────────────────────────────────
    // Lexical ranking for a literal 3-term query: term-filtered tf/df,
    // one corpus length aggregate, TakeOrderedAndProject cut. Terms are
    // mid-df fixture vocabulary so tf and length normalization both bite.
    Query("q_bm25", ((s, dir) =>
      CorpusStats.bm25TopK(tokStream(s, dir),
        Seq("spark", "merge", "vector"), k = 20)),
      s"""WITH $TokCte,
            ${bm25Cte(20)}
          SELECT doc_id, bm25, n_hit FROM bmk
          ORDER BY bm25 DESC, doc_id"""),

    // ── Hard-negative mining (retrieval-training data prep) ─────────────
    // The contrastive-training staple: query → BM25 top-20; rank 1 is the
    // positive; ranks 2..20 are negatives, each audited for near-dup
    // leakage against the positive (shingle-set Jaccard — a false
    // negative that is really a duplicate of the positive poisons the
    // contrastive loss). The ranker is the EXACT gated q_bm25 relation;
    // the audit is 19 pairwise set ops over the cut, corpus-independent.
    // The 20-row cut persists: the positive and negative branches both
    // read it (q_rank_diversify pattern).
    Query("q_hard_negatives", ((s, dir) => {
      // rank over the ≤20-row cut rides the range-partitioned kernel
      // (VERDICT r18 #1: no SinglePartition window in any query path); the
      // cut persists FIRST so the range sampler reads the cache, not a
      // second bm25 pass
      // the persisted layer is the bm25 CUT (the expensive relation); the
      // rank projection above it is a ≤20-row window both downstream
      // branches re-run from the kernel's internal cache for free
      val top = graft.ops.Ranks.globalRankAll(
          CorpusStats.bm25TopK(tokStream(s, dir),
              Seq("spark", "merge", "vector"), k = 20)
            .persist(),
          Seq(col("bm25").desc, col("doc_id").asc))
        .withColumn("rank", col("r").cast("int")).drop("r", "n")
      // shingle ONLY the 20-doc cut (broadcast semi-join BEFORE the
      // shingle projection — shingling the whole corpus for a 20-doc
      // audit measured 2×5 s of the query's 16 s at sf0.1), and persist:
      // the positive and negative branches both read it
      val sh = docs(s, dir)
        .join(broadcast(top.select(col("doc_id"))), Seq("doc_id"))
        .select(col("doc_id"),
          TextAnalysis.shingleSet(col("text"), 3).as("sh"))
        .persist()
      val pos = top.where(col("rank") === 1)
        .join(sh, Seq("doc_id"))
        .select(col("doc_id").as("pos_id"), col("sh").as("pos_sh"))
      val jac = round(
        size(array_intersect(col("sh"), col("pos_sh"))).cast("double") /
          size(array_union(col("sh"), col("pos_sh"))), 6)
      top.where(col("rank") > 1)
        .join(sh, Seq("doc_id"))
        .crossJoin(broadcast(pos))
        .select(col("rank"), col("doc_id"), col("bm25"),
          jac.as("jac_to_pos"), (jac < 0.5).as("is_hard_negative"))
        .orderBy("rank")
    }),
      // bm25Cte(20) shared verbatim with q_bm25; shingle-set Jaccard to the
      // positive per list_intersect / list_distinct (the q_neardup_incr
      // oracle form — only 19 pairs, no index needed).
      s"""WITH $TokCte,
            ${bm25Cte(20)},
          rk AS (
            SELECT doc_id, bm25, row_number() OVER (
              ORDER BY bm25 DESC, doc_id) AS rank
            FROM bmk),
          shx AS (
            SELECT doc_id,
              list_distinct(list_transform(
                generate_series(1, greatest(len($ToksSql) - 2, 0)),
                i -> array_to_string(($ToksSql)[i:i+2], ' '))) AS sh
            FROM documents),
          pos AS (
            SELECT r.doc_id AS pos_id, sh AS pos_sh
            FROM rk r JOIN shx ON r.doc_id = shx.doc_id WHERE rank = 1)
          SELECT CAST(r.rank AS INT) AS rank, r.doc_id, r.bm25,
            ROUND(CAST(len(list_intersect(s2.sh, p.pos_sh)) AS DOUBLE)
              / len(list_distinct(s2.sh || p.pos_sh)), 6) AS jac_to_pos,
            ROUND(CAST(len(list_intersect(s2.sh, p.pos_sh)) AS DOUBLE)
              / len(list_distinct(s2.sh || p.pos_sh)), 6) < 0.5
              AS is_hard_negative
          FROM rk r JOIN shx s2 ON r.doc_id = s2.doc_id CROSS JOIN pos p
          WHERE r.rank > 1 ORDER BY rank"""),

    // ── Hybrid retrieval: RRF fusion of BM25 and dense rankings ─────────
    // The standard two-tower retrieval shape: a lexical ranker (BM25 over
    // the token stream) and a dense ranker (exact-cosine top-k against a
    // probe embedding) each produce a top-50 cut; Reciprocal Rank Fusion
    // joins them on doc id (doc_id ≡ vec_id in the fixtures). Both
    // rankers are the existing scale paths — the fuse itself is a join of
    // two 50-row relations, corpus-size-independent (Retrieval.rrfFuse).
    // The lexical rank is applied AFTER the top-50 cut (≤50 rows at any
    // corpus size) and rides Ranks.globalRankAll, so no plan carries a
    // SinglePartition window (VERDICT r18 #1).
    Query("q_rrf_hybrid", ((s, dir) => {
      // lexical rank via the range-partitioned kernel (VERDICT r18 #1);
      // the ≤50-row cut persists so the range sampler reads the cache
      val lex = graft.ops.Ranks.globalRankAll(
          CorpusStats.bm25TopK(tokStream(s, dir),
              Seq("spark", "merge", "vector"), k = 50)
            .persist(),
          Seq(col("bm25").desc, col("doc_id").asc))
        .select(col("doc_id").as("id"), col("r").cast("int").as("rank"))
      val e = Tables.table(s, dir, "embeddings")
      val dense = Similarity.topKNeighbors(e.where(col("vec_id") === 0), e, 50)
        .select(col("cand_id").as("id"), col("rank"))
      Retrieval.rrfFuse(Seq("lex" -> lex, "dense" -> dense),
          kRrf = 60, topK = 20)
        .orderBy(desc("rrf"), col("id"))
    }),
      // Same BM25 pipeline at k=50 feeding the lexical leg of the fusion;
      // the dense leg is the q_knn_brute cosine with probe vec_id = 0.
      // Ranks are computed over the ROUNDED scores with id tie-breaks on
      // both sides, so engine ulp drift cannot flip a rank.
      s"""WITH $TokCte,
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            stats AS (SELECT count(*) AS n_docs,
                        CAST(SUM(dl) AS BIGINT) AS tok_total FROM dl),
            qtf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
                    WHERE tok IN ('spark', 'merge', 'vector')
                    GROUP BY doc_id, tok),
            dfc AS (SELECT tok, count(*) AS df FROM qtf GROUP BY tok),
            s AS (
              SELECT q.doc_id,
                ROUND(ROUND(ln((CAST(n_docs - df AS DOUBLE) + 0.5)
                               / (CAST(df AS DOUBLE) + 0.5) + 1), 6)
                        * (tf * CAST(2.2 AS DOUBLE))
                      / (tf + 1.2 * (0.25 + 0.75 * d.dl
                           / (CAST(tok_total AS DOUBLE) / n_docs))), 6) AS s
              FROM qtf q
              JOIN dfc USING (tok)
              JOIN dl d USING (doc_id)
              CROSS JOIN stats),
            lexs AS (
              SELECT doc_id,
                ROUND(CAST(SUM(CAST(s AS DECIMAL(28,10))) AS DOUBLE), 6) AS bm25
              FROM s GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT 50),
            lex AS (
              SELECT doc_id AS id,
                CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
                  AS lex_rank
              FROM lexs),
            dpairs AS (
              SELECT c.vec_id AS id,
                ${SimilarityQueries.cosineSql("p.embedding", "c.embedding")}
                  AS cosine
              FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
              WHERE p.vec_id = 0),
            dranked AS (
              SELECT id, row_number() OVER (ORDER BY cosine DESC, id) AS rk
              FROM dpairs),
            dense AS (
              SELECT id, CAST(rk AS INT) AS dense_rank
              FROM dranked WHERE rk <= 50)
          SELECT COALESCE(l.id, d.id) AS id,
            ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rank),
                           CAST(0 AS DOUBLE))
                + COALESCE(CAST(1 AS DOUBLE) / (60 + d.dense_rank),
                           CAST(0 AS DOUBLE)), 6) AS rrf,
            l.lex_rank, d.dense_rank
          FROM lex l FULL JOIN dense d ON l.id = d.id
          ORDER BY rrf DESC, id LIMIT 20"""),

    // ── Ranker-agreement diagnostic (lexical vs dense top-50) ───────────
    // The number read BEFORE trusting q_rrf_hybrid's fusion: overlap and
    // rank displacement between the same two legs (Retrieval.rankOverlap)
    // — near-zero overlap means the retrievers see different corpora and
    // RRF averages noise; near-total means the dense leg adds nothing.
    // Both legs are the existing scale paths; the diagnostic itself is a
    // full-outer join of two 50-row cuts + one 1-row aggregate.
    Query("q_rank_overlap", ((s, dir) => {
      // same lexical-rank kernel as q_rrf_hybrid (VERDICT r18 #1)
      val lex = graft.ops.Ranks.globalRankAll(
          CorpusStats.bm25TopK(tokStream(s, dir),
              Seq("spark", "merge", "vector"), k = 50)
            .persist(),
          Seq(col("bm25").desc, col("doc_id").asc))
        .select(col("doc_id").as("id"), col("r").cast("int").as("rank"))
      val e = Tables.table(s, dir, "embeddings")
      val dense = Similarity.topKNeighbors(e.where(col("vec_id") === 0), e, 50)
        .select(col("cand_id").as("id"), col("rank"))
      Retrieval.rankOverlap(lex, dense)
    }),
      // Same two legs as q_rrf_hybrid, agreement aggregate instead of a
      // fusion: union count from the full join, overlap, rank-gap mean over
      // the shared ids (NULL when disjoint).
      s"""WITH $TokCte,
            dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            stats AS (SELECT count(*) AS n_docs,
                        CAST(SUM(dl) AS BIGINT) AS tok_total FROM dl),
            qtf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
                    WHERE tok IN ('spark', 'merge', 'vector')
                    GROUP BY doc_id, tok),
            dfc AS (SELECT tok, count(*) AS df FROM qtf GROUP BY tok),
            s AS (
              SELECT q.doc_id,
                ROUND(ROUND(ln((CAST(n_docs - df AS DOUBLE) + 0.5)
                               / (CAST(df AS DOUBLE) + 0.5) + 1), 6)
                        * (tf * CAST(2.2 AS DOUBLE))
                      / (tf + 1.2 * (0.25 + 0.75 * d.dl
                           / (CAST(tok_total AS DOUBLE) / n_docs))), 6) AS s
              FROM qtf q
              JOIN dfc USING (tok)
              JOIN dl d USING (doc_id)
              CROSS JOIN stats),
            lexs AS (
              SELECT doc_id,
                ROUND(CAST(SUM(CAST(s AS DECIMAL(28,10))) AS DOUBLE), 6) AS bm25
              FROM s GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT 50),
            lex AS (
              SELECT doc_id AS id,
                CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
                  AS rank_a
              FROM lexs),
            dpairs AS (
              SELECT c.vec_id AS id,
                ${SimilarityQueries.cosineSql("p.embedding", "c.embedding")}
                  AS cosine
              FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
              WHERE p.vec_id = 0),
            dranked AS (
              SELECT id, row_number() OVER (ORDER BY cosine DESC, id) AS rk
              FROM dpairs),
            dense AS (
              SELECT id, CAST(rk AS INT) AS rank_b
              FROM dranked WHERE rk <= 50),
            j AS (
              SELECT l.rank_a, d.rank_b
              FROM lex l FULL JOIN dense d ON l.id = d.id),
            m AS (
              SELECT
                CAST(SUM(CASE WHEN rank_a IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN rank_b IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
                CAST(SUM(CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
                CAST(count(*) AS BIGINT) AS n_union,
                CAST(SUM(CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL
                  THEN abs(rank_a - rank_b) ELSE 0 END) AS BIGINT) AS gap_sum
              FROM j)
            SELECT n_a, n_b, n_overlap,
              ROUND(CAST(n_overlap AS DOUBLE) / n_union, 6) AS jaccard,
              CASE WHEN n_overlap > 0
                THEN ROUND(CAST(gap_sum AS DOUBLE) / n_overlap, 6)
                ELSE NULL END AS mean_rank_gap
            FROM m"""),

    // ── First BPE merge iteration: top adjacent char-pair candidates ────
    // The tokenizer-training input the reference's own word count feeds:
    // word-frequency table (the wc core) → per-word adjacent character
    // pairs weighted by word count → top-20 merge candidates. One agg
    // over the VOCABULARY (Heaps-law-small), not the token stream — the
    // BPE-iteration shape at corpus scale.
    Query("q_bpe_merge", ((s, dir) => {
      val wf = tokStream(s, dir).groupBy(col("tok"))
        .agg(count(lit(1)).as("wc"))
      val pairs = wf.select(col("wc"),
        explode(when(length(col("tok")) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), length(col("tok")) - 1),
            i => col("tok").substr(i, lit(2))))).as("pair"))
      pairs.groupBy(col("pair"))
        .agg(sum(col("wc")).cast("long").as("cnt"))
        .orderBy(desc("cnt"), col("pair")).limit(20)
    }),
      s"""WITH $TokCte,
            wf AS (SELECT tok, count(*) AS wc FROM tok GROUP BY tok),
            p AS (
              SELECT wc, unnest(list_transform(
                generate_series(1, len(tok) - 1), i -> tok[i:i+1])) AS pair
              FROM wf)
          SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
          FROM p GROUP BY pair
          ORDER BY cnt DESC, pair LIMIT 20"""),

    // ── Iterated BPE training: k successive merges ──────────────────────
    // The tokenizer-training loop proper (extends q_bpe_merge's single
    // candidate scan): each round counts adjacent symbol pairs over the
    // CURRENT vocabulary, merges the winner greedily left-to-right, and
    // recounts. Both engines express the merge as replace(sym,'a  b','ab')
    // over the two-space-joined symbolization — structurally identical
    // plans, bit-identical results (see CorpusStats.bpeTrain).
    Query("q_bpe_train", ((s, dir) =>
      CorpusStats.bpeTrain(tokStream(s, dir), k = BpeK)
        .orderBy("step")),
      bpeTrainSql(BpeK)),

    // ── BPE apply: subword-unit corpus frequencies after k merges ───────
    // The other half of tokenizer training: re-symbolize the
    // word-frequency table with the trained merges and read off the
    // corpus frequency of every resulting subword unit (top-20). Oracle
    // = the same unrolled chain, final vocabulary exploded.
    Query("q_bpe_apply", ((s, dir) =>
      CorpusStats.bpeVocab(tokStream(s, dir), k = BpeK)
        .select(explode(split(col("sym"), "  ")).as("unit"), col("wc"))
        .groupBy(col("unit"))
        .agg(sum(col("wc")).cast("long").as("cnt"))
        .orderBy(desc("cnt"), col("unit")).limit(20)),
      bpeApplySql(BpeK)),

    // ── BPE inference: per-doc segmentation under the trained merges ────
    // The tokenizer's inference half: every document's token stream is
    // segmented with the k trained merges and the per-doc token/subword
    // counts read off (n_units/n_tokens = fertility). Expressed as a
    // keyed join against the vocabulary-scale (word → unit count)
    // relation — the trained artifact is reused, not re-derived per
    // occurrence (CorpusStats.bpeSegmentStats).
    Query("q_bpe_segment", ((s, dir) =>
      CorpusStats.bpeSegmentStats(tokStream(s, dir), k = BpeK)
        .orderBy("doc_id")),
      bpeSegmentSql(BpeK)),

    // ── BPE compression curve (per-merge-step units/char) ───────────────
    // After each of the k merges, total corpus subword units and the
    // units-per-char ratio — the diminishing-returns curve that decides
    // how many merges a tokenizer budget buys. Read off ONE training
    // chain's intermediate vocabularies as they materialize
    // (CorpusStats.bpeCompressionCurve — O(K) rounds, not the r12 form's
    // K independent chains), so the plan a real tokenizer's K≈32k needs
    // is the plan the fixture runs. n_chars rides along (constant across
    // steps — a conservation sanity the oracle re-proves).
    Query("q_bpe_compression", ((s, dir) =>
      CorpusStats.bpeCompressionCurve(tokStream(s, dir), k = BpeK)
        .orderBy("step")), {
      // Per-step readout off the SAME unrolled chain (v1..vK already exist
      // in bpeChainSql) — conservation of n_chars across steps is re-proven
      // by the oracle computing it per step from each v_i.
      val branches = (1 to BpeK).map { i =>
        s"""SELECT $i AS step,
              CAST(SUM(wc * len(string_split(trim(sym), '  '))) AS BIGINT)
                AS n_units,
              CAST(SUM(wc * length(replace(trim(sym), '  ', ''))) AS BIGINT)
                AS n_chars,
              ROUND(CAST(SUM(wc * len(string_split(trim(sym), '  ')))
                  AS DOUBLE)
                / SUM(wc * length(replace(trim(sym), '  ', ''))), 6)
                AS units_per_char
            FROM v$i"""
      }.mkString("\nUNION ALL\n")
      s"""${bpeChainSql(BpeK)}
          $branches
          ORDER BY step"""
    }),

    // ── Pointwise mutual information: lang × source association ─────────
    // The corpus-composition diagnostic: one pass builds the (lang,
    // source) contingency cells; marginals and the total derive from the
    // CELLS (group-count rows), never from a second corpus scan. PMI =
    // ln(N·c_ls / (c_l·c_s)), expected = c_l·c_s/N, both rounded 6.
    Query("q_mi", ((s, dir) => {
      val cells = docs(s, dir).groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("c_ls"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cl = cells.groupBy(col("lang"))
        .agg(sum(col("c_ls")).cast("long").as("c_l"))
      val cs = cells.groupBy(col("source"))
        .agg(sum(col("c_ls")).cast("long").as("c_s"))
      val tot = cells.agg(sum(col("c_ls")).cast("long").as("n_tot"))
      cells.join(broadcast(cl), Seq("lang"))
        .join(broadcast(cs), Seq("source"))
        .crossJoin(broadcast(tot)) // 1-row total
        .select(col("lang"), col("source"), col("c_ls"),
          round(col("c_l").cast("double") * col("c_s") / col("n_tot"), 6)
            .as("expected"),
          // c_l·c_s multiplies in DOUBLE: a long product overflows 2^63
          // at ~3e9 docs per marginal — exactly the scale this runs at
          round(log(col("n_tot").cast("double") * col("c_ls")
            / (col("c_l").cast("double") * col("c_s"))), 6).as("pmi"))
        .orderBy("lang", "source")
    }),
      """WITH cells AS (
            SELECT lang, source, CAST(count(*) AS BIGINT) AS c_ls
            FROM documents GROUP BY lang, source),
          cl AS (SELECT lang, CAST(SUM(c_ls) AS BIGINT) AS c_l
                 FROM cells GROUP BY lang),
          cs AS (SELECT source, CAST(SUM(c_ls) AS BIGINT) AS c_s
                 FROM cells GROUP BY source),
          tot AS (SELECT CAST(SUM(c_ls) AS BIGINT) AS n_tot FROM cells)
          SELECT cells.lang, cells.source, c_ls,
            ROUND(CAST(c_l AS DOUBLE) * c_s / n_tot, 6) AS expected,
            ROUND(ln(CAST(n_tot AS DOUBLE) * c_ls
                     / (CAST(c_l AS DOUBLE) * c_s)), 6) AS pmi
          FROM cells
          JOIN cl USING (lang)
          JOIN cs USING (source)
          CROSS JOIN tot
          ORDER BY lang, source"""),

    // ── Per-source language-mix entropy (source-diversity scalar) ───────
    // H(lang | source) per source + the ln(n_langs)-normalized form —
    // q_mi's association read, reduced to the per-source diversity number
    // a crawl-composition dashboard alarms on
    // (CorpusStats.groupMixEntropy).
    Query("q_source_entropy", ((s, dir) =>
      CorpusStats.groupMixEntropy(docs(s, dir), "source", "lang")
        .orderBy("grp")),
      """WITH cells AS (
            SELECT source AS grp, lang AS sub, count(*) AS c
            FROM documents GROUP BY 1, 2),
          tot AS (
            SELECT grp, CAST(SUM(c) AS BIGINT) AS n_docs,
              CAST(count(*) AS BIGINT) AS n_subs
            FROM cells GROUP BY grp),
          terms AS (
            SELECT cells.grp, n_docs, n_subs,
              CAST(ROUND((CAST(c AS DOUBLE) / n_docs)
                  * ln(CAST(c AS DOUBLE) / n_docs), 6)
                AS DECIMAL(28,6)) AS term
            FROM cells JOIN tot USING (grp)),
          h AS (
            SELECT grp, max(n_docs) AS n_docs, max(n_subs) AS n_subs,
              ROUND(0.0 - CAST(SUM(term) AS DOUBLE), 6) AS entropy
            FROM terms GROUP BY grp)
          SELECT grp, n_docs, n_subs, entropy,
            CASE WHEN n_subs > 1
                 THEN ROUND(entropy / ln(CAST(n_subs AS DOUBLE)), 6)
            END AS norm_entropy
          FROM h ORDER BY grp"""),

    // ── Robust z-score outliers (median/MAD) over doc length ────────────
    // The quality-metric outlier gate: per-language median + MAD, z =
    // (x − med)/(1.4826·MAD), flag |z| > 3. Exact percentile at fixture
    // scale (the q_percentiles-portable pair).
    Query("q_outliers", ((s, dir) =>
      CorpusStats.robustZScores(docs(s, dir), "doc_id", "lang",
          col("n_chars"))
        .select(col("id").as("doc_id"), col("grp").as("lang"),
          col("x").as("n_chars"), col("med"), col("mad"), col("z"),
          col("is_outlier"))
        .orderBy("doc_id")),
      """WITH base AS (
            SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS x
            FROM documents),
          med AS (
            SELECT lang, ROUND(quantile_cont(x, 0.5), 6) AS med
            FROM base GROUP BY lang),
          dev AS (
            SELECT b.doc_id, b.lang, b.x, m.med, ABS(b.x - m.med) AS adev
            FROM base b JOIN med m USING (lang)),
          mad AS (
            SELECT lang, ROUND(quantile_cont(adev, 0.5), 6) AS mad
            FROM dev GROUP BY lang),
          z AS (
            SELECT d.doc_id, d.lang, d.x, d.med, m.mad,
              CASE WHEN m.mad = 0 THEN NULL
                   ELSE ROUND((d.x - d.med) / (1.4826 * m.mad), 6)
              END AS z
            FROM dev d JOIN mad m USING (lang))
          SELECT doc_id, lang, x AS n_chars, med, mad, z,
            COALESCE(ABS(z) > 3, FALSE) AS is_outlier
          FROM z ORDER BY doc_id"""),

    // ── Per-doc n-gram novelty (memorization-risk ledger) ───────────────
    // Of each doc's distinct 5-grams, the fraction FIRST introduced by
    // this doc (min doc_id over all docs containing the gram). Two
    // gram-keyed aggregates + one doc-keyed join — the inverted-index
    // posture, no corpus-scale join-back (CorpusStats.ngramNovelty).
    Query("q_ngram_novelty", ((s, dir) =>
      CorpusStats.ngramNovelty(docs(s, dir), "doc_id", toks, n = 5)
        .orderBy("doc_id")),
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
            g AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id, unnest(list_transform(
                    generate_series(1, greatest(len(toks) - 4, 0)),
                    i -> array_to_string(toks[i:i+4], ' '))) AS gram
                FROM t)),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
                    FROM g GROUP BY doc_id),
            own AS (SELECT gram, min(doc_id) AS doc_id FROM g GROUP BY gram),
            nov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
                    FROM own GROUP BY doc_id)
          SELECT t.doc_id, t.n_grams,
            COALESCE(n.n_novel, 0) AS n_novel,
            ROUND(CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / t.n_grams, 6)
              AS novelty
          FROM tot t LEFT JOIN nov n USING (doc_id)
          ORDER BY doc_id"""),

    // ── Per-language BPE fertility (tokenizer-fairness table) ───────────
    // Subword units per whitespace word + chars per unit, per language,
    // under the SAME k-merge chain as q_bpe_train/apply/segment — the
    // cross-language cost table OOV can't see
    // (CorpusStats.subwordFertility).
    Query("q_tok_fertility", ((s, dir) =>
      CorpusStats.subwordFertility(docs(s, dir), "doc_id", "lang", toks,
          k = BpeK)
        .orderBy("grp")),
      s"""${bpeChainSql(BpeK)},
            w AS (
              SELECT replace(trim(sym), '  ', '') AS tok,
                CAST(len(string_split(trim(sym), '  ')) AS BIGINT) AS nu
              FROM v$BpeK),
            seg AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(SUM(nu) AS BIGINT) AS n_units,
                CAST(SUM(length(tok)) AS BIGINT) AS n_chars
              FROM tok JOIN w USING (tok)
              GROUP BY doc_id)
          SELECT d.lang AS grp, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(SUM(s.n_tokens) AS BIGINT) AS n_tokens,
            CAST(SUM(s.n_units) AS BIGINT) AS n_units,
            ROUND(CAST(SUM(s.n_units) AS DOUBLE) / SUM(s.n_tokens), 6)
              AS fertility,
            ROUND(CAST(SUM(s.n_chars) AS DOUBLE) / SUM(s.n_units), 6)
              AS chars_per_unit
          FROM seg s JOIN documents d USING (doc_id)
          GROUP BY d.lang ORDER BY grp"""),

    // ── Heaps'-law vocabulary-growth fit ────────────────────────────────
    // How fast does vocabulary grow as the corpus grows? V(D) ≈ K·D^β —
    // β near 0.5 is natural text, near 1 is id/noise floods, near 0 is
    // template collapse (the growth-side companion of q_zipf_fit's
    // frequency slope). Ten cumulative checkpoints from a tie-free
    // doc_id ntile ladder; each token binds to the decile of its FIRST
    // document (min doc_id — one inverted-index aggregate + one keyed
    // join, never a rescan per checkpoint), cumulatives ride 10-row
    // windows, and the ln-ln OLS reuses the q_zipf_fit decimal
    // moment-sum discipline. At 100 TB: doc order is ingest order and
    // the checkpoints come from count boundaries, same plan.
    Query("q_heaps_law", ((s, dir) => {
      val dec = "decimal(30,16)"
      val W = org.apache.spark.sql.expressions.Window
      // global decile ladder via the range-partitioned rank kernel — the
      // constant-key ntile window funneled ALL doc ids through one task
      // (VERDICT r18 #1); ntileFromRank reproduces ntile's bucket
      // boundaries bit-for-bit from the exact global rank
      val dd = graft.ops.Ranks.globalRankAll(
          docs(s, dir).select(col("doc_id")), Seq(col("doc_id")))
        .select(col("doc_id"),
          graft.ops.Ranks.ntileFromRank(col("r"), col("n"), 10).as("decile"))
      val docsPer = dd.groupBy(col("decile")).agg(count(lit(1)).as("nd"))
      val vocabPer = tokStream(s, dir)
        .groupBy(col("tok")).agg(min(col("doc_id")).as("doc_id"))
        .join(dd, Seq("doc_id"))
        .groupBy(col("decile")).agg(count(lit(1)).as("nv"))
      val wCum = W.partitionBy(pmod(col("decile"), lit(1)))
        .orderBy(col("decile"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      docsPer.join(vocabPer, Seq("decile"), "left")
        .select(col("decile"),
          sum(col("nd")).over(wCum).as("cd"),
          sum(coalesce(col("nv"), lit(0L))).over(wCum).as("cv"))
        .select(
          round(log(col("cd").cast("double")), 6).as("lx"),
          round(log(col("cv").cast("double")), 6).as("ly"))
        .agg(count(lit(1)).as("n"),
          sum(col("lx").cast(dec)).cast("double").as("sx"),
          sum(col("ly").cast(dec)).cast("double").as("sy"),
          sum((col("lx") * col("ly")).cast(dec)).cast("double").as("sxy"),
          sum((col("lx") * col("lx")).cast(dec)).cast("double").as("sxx"))
        .withColumn("slope",
          (col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
            / (col("n").cast("double") * col("sxx") - col("sx") * col("sx")))
        .select(col("n"),
          round(col("slope"), 6).as("heaps_beta"),
          round((col("sy") - col("slope") * col("sx"))
            / col("n").cast("double"), 6).as("ln_k"))
    }),
      s"""WITH $TokCte,
         dd AS (
           SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS decile
           FROM documents),
         dp AS (SELECT decile, count(*) AS nd FROM dd GROUP BY 1),
         fo AS (SELECT min(doc_id) AS doc_id FROM tok GROUP BY tok),
         vp AS (
           SELECT d.decile, count(*) AS nv
           FROM fo f JOIN dd d ON f.doc_id = d.doc_id GROUP BY 1),
         cum AS (
           SELECT dp.decile,
             sum(nd) OVER (ORDER BY dp.decile ROWS UNBOUNDED PRECEDING)
               AS cd,
             sum(COALESCE(nv, 0)) OVER (ORDER BY dp.decile
               ROWS UNBOUNDED PRECEDING) AS cv
           FROM dp LEFT JOIN vp ON dp.decile = vp.decile),
         lg AS (
           SELECT ROUND(ln(CAST(cd AS DOUBLE)), 6) AS lx,
             ROUND(ln(CAST(cv AS DOUBLE)), 6) AS ly
           FROM cum),
         m AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(lx AS DECIMAL(30,16))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ly AS DECIMAL(30,16))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(lx * ly AS DECIMAL(30,16))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(lx * lx AS DECIMAL(30,16))) AS DOUBLE) AS sxx
           FROM lg)
         SELECT n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS heaps_beta,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
             / n, 6) AS ln_k
         FROM m"""),

    // ── Hapax / lexical-diversity profile per source ────────────────────
    // Vocabulary size, token total, hapax-legomenon count (types seen
    // exactly once — the noise/novelty end of the frequency spectrum),
    // hapax share of vocabulary, and type-token ratio, per source. High
    // hapax share flags OCR junk or id-like token floods; a collapsed
    // TTR flags template spam — the two cheapest corpus-health reads
    // after a scan. One tokenizing explode + two keyed aggregates
    // ((source, tok) then source); nothing pair-scale.
    Query("q_hapax", ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("source"), explode(toks).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
      tf.groupBy(col("source")).agg(
          count(lit(1)).as("vocab_size"),
          sum(col("c")).as("n_tokens"),
          sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("vocab_size"), col("n_tokens"),
          col("n_hapax"),
          round(col("n_hapax").cast("double") / col("vocab_size"), 6)
            .as("hapax_share"),
          round(col("vocab_size").cast("double") / col("n_tokens"), 6)
            .as("ttr"))
        .orderBy("source")
    }),
      s"""WITH tf AS (
           SELECT source, tok, count(*) AS c FROM (
             SELECT source, unnest($ToksSql) AS tok FROM documents)
           GROUP BY source, tok),
         g AS (
           SELECT source, CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
           FROM tf GROUP BY source)
         SELECT source, vocab_size, n_tokens, n_hapax,
           ROUND(CAST(n_hapax AS DOUBLE) / vocab_size, 6) AS hapax_share,
           ROUND(CAST(vocab_size AS DOUBLE) / n_tokens, 6) AS ttr
         FROM g ORDER BY source"""),

    // ── Stratification design effect (what stratifying by source buys) ──
    // Survey-sampling's deff applied to corpus estimation: the ratio of
    // within-stratum variance mass Σ (n_h/N)·s²_h to total variance s²
    // is the variance multiplier of a proportional source-stratified
    // sample vs simple random sampling of the SAME size (the sample size
    // cancels). deff ≪ 1 ⇒ stratify before estimating corpus stats;
    // gain = 1 − deff is the variance saved. Moment sums are exact
    // DECIMAL per stratum; s²_h/deff are one fixed IEEE chain each,
    // terms rounded at 8 then decimal-summed (the repo-wide round-
    // before-aggregate discipline). One keyed aggregate + 20-row
    // constant-key windows — nothing fact-scale after the group-by.
    Query("q_stratify_gain", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(col("nh"), lit(1L)))
      val st = docs(s, dir)
        .select(col("source"), col("n_chars").cast("long").as("x"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("nh"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
      val s2h = (col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double") / col("nh")) /
        (col("nh") - 1)
      val gvar = (col("gsxx").cast("double") -
        col("gsx").cast("double") * col("gsx").cast("double") / col("nn")) /
        (col("nn") - 1)
      st.select(col("nh"), col("sx"), col("sxx"),
          sum(col("nh")).over(W).as("nn"),
          sum(col("sx")).over(W).as("gsx"),
          sum(col("sxx")).over(W).as("gsxx"),
          count(lit(1)).over(W).as("k"))
        .select(col("nn"), col("k"), col("gsx"), col("gsxx"),
          when(col("nh") > 1,
            round(col("nh").cast("double") / col("nn") * s2h, 8))
            .otherwise(0.0).as("t"))
        .groupBy(col("nn"), col("k"), col("gsx"), col("gsxx"))
        .agg(sum(col("t").cast("decimal(38,6)")).cast("double")
          .as("within"))
        .select(col("nn").as("n"), col("k").as("k_strata"),
          round(col("within"), 4).as("within_var"),
          round(gvar, 4).as("total_var"),
          round(col("within") / gvar, 6).as("deff"),
          round(lit(1.0) - col("within") / gvar, 6).as("gain"))
    }),
      """WITH st AS (
           SELECT source, CAST(count(*) AS BIGINT) AS nh,
             sum(CAST(n_chars AS DECIMAL(38,0))) AS sx,
             sum(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS sxx
           FROM documents GROUP BY source),
         g AS (
           SELECT nh, sx, sxx,
             CAST(sum(nh) OVER () AS BIGINT) AS nn,
             sum(sx) OVER () AS gsx,
             sum(sxx) OVER () AS gsxx,
             CAST(count(*) OVER () AS BIGINT) AS k
           FROM st),
         t AS (
           SELECT nn, k, gsx, gsxx,
             CASE WHEN nh > 1 THEN
               ROUND(CAST(nh AS DOUBLE) / nn *
                 ((CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / nh)
                  / (nh - 1)), 8)
             ELSE 0.0 END AS t
           FROM g),
         a AS (
           SELECT nn, k, gsx, gsxx,
             CAST(sum(CAST(t AS DECIMAL(38,6))) AS DOUBLE) AS within
           FROM t GROUP BY 1, 2, 3, 4)
         SELECT nn AS n, k AS k_strata,
           ROUND(within, 4) AS within_var,
           ROUND((CAST(gsxx AS DOUBLE)
                  - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) / nn)
                 / (nn - 1), 4) AS total_var,
           ROUND(within / ((CAST(gsxx AS DOUBLE)
                  - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) / nn)
                 / (nn - 1)), 6) AS deff,
           ROUND(1.0 - within / ((CAST(gsxx AS DOUBLE)
                  - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) / nn)
                 / (nn - 1)), 6) AS gain
         FROM a"""),

    // ── Concentration index (HHI) of corpus composition ─────────────────
    // Herfindahl–Hirschman index of doc-mass concentration across
    // sources and across languages: Σ share² with exact integer
    // numerators (Σ n², decimal-accumulated) and two IEEE divisions at
    // the edge; effective_n = 1/HHI is "how many equal-sized groups this
    // corpus behaves like" — the one-number diversity read next to
    // q_source_entropy's bits. Two group-count aggregates + two 1-row
    // folds, unioned.
    Query("q_source_hhi", ((s, dir) => {
      def hhi(dim: String) =
        docs(s, dir).groupBy(col(dim)).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("k_groups"),
            sum(col("n")).as("n_total"),
            sum((col("n") * col("n")).cast("decimal(38,0)")).as("sq"))
          .select(lit(dim).as("dim"), col("k_groups"), col("n_total"),
            round(col("sq").cast("double") /
              (col("n_total").cast("double") * col("n_total").cast("double")),
              6).as("hhi"),
            round(col("n_total").cast("double") * col("n_total").cast("double")
              / col("sq").cast("double"), 6).as("effective_n"))
      hhi("source").unionByName(hhi("lang")).orderBy("dim")
    }),
      """WITH s1 AS (SELECT source AS g FROM documents),
         s2 AS (SELECT lang AS g FROM documents),
         f AS (
           SELECT 'source' AS dim, g, count(*) AS n FROM s1 GROUP BY 1, 2
           UNION ALL
           SELECT 'lang' AS dim, g, count(*) AS n FROM s2 GROUP BY 1, 2),
         a AS (
           SELECT dim, CAST(count(*) AS BIGINT) AS k_groups,
             CAST(sum(n) AS BIGINT) AS n_total,
             sum(n * n) AS sq
           FROM f GROUP BY dim)
         SELECT dim, k_groups, n_total,
           ROUND(CAST(sq AS DOUBLE) /
             (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)), 6)
             AS hhi,
           ROUND(CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
             / CAST(sq AS DOUBLE), 6) AS effective_n
         FROM a ORDER BY dim"""),

    // ── Two-sample Kolmogorov–Smirnov drift statistic ───────────────────
    // Distribution drift between the corpus's two largest sources (doc
    // count, tie-pinned by name): D = sup |F_a(x) − F_b(x)| over the
    // pooled doc-length support. The sup is attained at a pooled jump
    // point, so grouping by distinct length + two running-count windows
    // is EXACT, and the numerator max |c_a·n_b − c_b·n_a| stays in
    // int64 — one division at the edge, rounded once at 6. Shape: two
    // keyed aggregates, windows over the distinct-value relation (corpus
    // scale ÷ duplication), two allowlisted 1-row broadcasts. At 100 TB
    // the distinct-length relation is the only windowed input; for
    // continuous metrics you'd pre-bucket to fixed quantile bins, same
    // plan. int64 envelope: c·n products need n_a·n_b < 2⁶³.
    Query("q_ks_drift", ((s, dir) => {
      val d = docs(s, dir).select(col("source"), col("n_chars"))
      val top2 = d.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .select(col("source"), col("cnt"),
          row_number().over(Window.partitionBy(pmod(col("cnt"), lit(1L)))
            .orderBy(desc("cnt"), asc("source"))).as("rn"))
        .where(col("rn") <= 2)
      val perVal = d
        .join(broadcast(top2.select(col("source"), col("rn"))), Seq("source"))
        .groupBy(col("n_chars")).agg(
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("d1"),
          sum(when(col("rn") === 2, 1L).otherwise(0L)).as("d2"))
      val w = Window.partitionBy(pmod(col("n_chars"), lit(1L)))
        .orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cums = perVal.select(col("n_chars"),
        sum(col("d1")).over(w).as("c1"), sum(col("d2")).over(w).as("c2"))
      val tot = cums.agg(max(col("c1")).as("n_a"), max(col("c2")).as("n_b"))
      val names = top2.agg(
        max(when(col("rn") === 1, col("source"))).as("source_a"),
        max(when(col("rn") === 2, col("source"))).as("source_b"))
      cums.crossJoin(broadcast(tot))
        .agg(max(abs(col("c1") * col("n_b") - col("c2") * col("n_a")))
            .as("ks_num"),
          max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
        .crossJoin(broadcast(names))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("ks_num"),
          round(col("ks_num").cast("double") / (col("n_a") * col("n_b")), 6)
            .as("ks"))
    }),
      """WITH sc AS (
           SELECT source, count(*) AS cnt FROM documents GROUP BY source),
         top2 AS (
           SELECT source, rn FROM (
             SELECT source,
               row_number() OVER (ORDER BY cnt DESC, source) AS rn
             FROM sc) WHERE rn <= 2),
         perval AS (
           SELECT n_chars,
             sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS d1,
             sum(CASE WHEN rn = 2 THEN 1 ELSE 0 END) AS d2
           FROM documents d JOIN top2 t USING (source)
           GROUP BY n_chars),
         cums AS (
           SELECT n_chars,
             sum(d1) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c1,
             sum(d2) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c2
           FROM perval),
         tot AS (SELECT max(c1) AS n_a, max(c2) AS n_b FROM cums),
         ksn AS (
           SELECT max(abs(c1 * n_b - c2 * n_a)) AS ks_num,
             max(n_a) AS n_a, max(n_b) AS n_b
           FROM cums CROSS JOIN tot),
         names AS (
           SELECT max(CASE WHEN rn = 1 THEN source END) AS source_a,
             max(CASE WHEN rn = 2 THEN source END) AS source_b
           FROM top2)
         SELECT source_a, source_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(ks_num AS BIGINT) AS ks_num,
           ROUND(CAST(ks_num AS DOUBLE) / (n_a * n_b), 6) AS ks
         FROM ksn CROSS JOIN names"""),

    // ── Population Stability Index between the top-2 sources ────────────
    // The feature-drift monitor's standard number: PSI = Σ (p−q)·ln(p/q)
    // over ten POOLED doc-length deciles (boundaries from the combined
    // distribution, so both sides bin identically), add-one smoothed so
    // an empty cell can't emit ln(0). Per-bucket terms are one IEEE
    // chain rounded at 8, then decimal-summed and rounded at 6 — the
    // repo-wide ln discipline. Same top-2/tag machinery as q_ks_drift
    // (KS reads the worst single gap; PSI the mass-weighted total).
    Query("q_psi_drift", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("source"), col("doc_id"),
        col("n_chars"))
      val top2 = d.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .select(col("source"), col("cnt"),
          row_number().over(W.partitionBy(pmod(col("cnt"), lit(1L)))
            .orderBy(desc("cnt"), asc("source"))).as("rn"))
        .where(col("rn") <= 2)
      // pooled deciles via the range-partitioned rank kernel — the
      // constant-key ntile window funneled both sources' docs through one
      // task (VERDICT r18 #1); bucket boundaries identical by
      // Ranks.ntileFromRank's exact mirror of ntile's layout
      val cells = graft.ops.Ranks.globalRankAll(
          d.join(broadcast(top2.select(col("source"), col("rn"))),
              Seq("source"))
            .select(col("rn"), col("n_chars"), col("doc_id")),
          Seq(col("n_chars"), col("doc_id")))
        .select(col("rn"),
          graft.ops.Ranks.ntileFromRank(col("r"), col("n"), 10).as("bucket"))
        .groupBy(col("bucket"))
        .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("rn") === 2, 1L).otherwise(0L)).as("c2"))
      val wC = W.partitionBy(pmod(col("bucket"), lit(1)))
      val p = (col("c1") + 1L).cast("double") / (col("n1") + 10L)
      val q = (col("c2") + 1L).cast("double") / (col("n2") + 10L)
      val names = top2.agg(
        max(when(col("rn") === 1, col("source"))).as("source_a"),
        max(when(col("rn") === 2, col("source"))).as("source_b"))
      cells.select(col("c1"), col("c2"),
          sum(col("c1")).over(wC).as("n1"),
          sum(col("c2")).over(wC).as("n2"))
        .select(col("n1"), col("n2"),
          round((p - q) * log(p / q), 8).as("t"))
        .groupBy(col("n1"), col("n2"))
        .agg(round(sum(col("t").cast("decimal(28,10)")).cast("double"), 6)
          .as("psi"))
        .crossJoin(broadcast(names))
        .select(col("source_a"), col("source_b"),
          col("n1").as("n_a"), col("n2").as("n_b"), col("psi"))
    }),
      """WITH sc AS (
           SELECT source, count(*) AS cnt FROM documents GROUP BY source),
         top2 AS (
           SELECT source, rn FROM (
             SELECT source,
               row_number() OVER (ORDER BY cnt DESC, source) AS rn
             FROM sc) WHERE rn <= 2),
         b AS (
           SELECT t.rn,
             ntile(10) OVER (ORDER BY d.n_chars, d.doc_id) AS bucket
           FROM documents d JOIN top2 t USING (source)),
         cells AS (
           SELECT bucket,
             sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN rn = 2 THEN 1 ELSE 0 END) AS c2
           FROM b GROUP BY bucket),
         wide AS (
           SELECT c1, c2,
             CAST(sum(c1) OVER () AS BIGINT) AS n1,
             CAST(sum(c2) OVER () AS BIGINT) AS n2
           FROM cells),
         terms AS (
           SELECT n1, n2,
             ROUND((CAST(c1 + 1 AS DOUBLE) / (n1 + 10)
                    - CAST(c2 + 1 AS DOUBLE) / (n2 + 10))
               * ln((CAST(c1 + 1 AS DOUBLE) / (n1 + 10))
                    / (CAST(c2 + 1 AS DOUBLE) / (n2 + 10))), 8) AS t
           FROM wide),
         agg AS (
           SELECT n1, n2,
             ROUND(CAST(sum(CAST(t AS DECIMAL(28,10))) AS DOUBLE), 6)
               AS psi
           FROM terms GROUP BY n1, n2),
         names AS (
           SELECT max(CASE WHEN rn = 1 THEN source END) AS source_a,
             max(CASE WHEN rn = 2 THEN source END) AS source_b
           FROM top2)
         SELECT source_a, source_b, n1 AS n_a, n2 AS n_b, psi
         FROM agg CROSS JOIN names"""),

    // ── Mann–Whitney U between the top-2 sources ─────────────────────────
    // The rank-based member of the two-sample family (KS: worst gap,
    // EMD: integral, PSI: binned mass, MWU: stochastic dominance): U in
    // EXACT integers via doubled midranks — a tied group's 2·avg-rank is
    // start+end, both integers, so R₁ never touches a fraction — plus
    // the AUC identity U/(n₁n₂) = P(X>Y)+½P(X=Y) and the normal
    // z-approximation (no tie correction — documented; the untied z is
    // conservative). One grouped pass over distinct values + two tiny
    // windows; only the 1-row name pivot is broadcast.
    Query("q_mannwhitney", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("source"), col("n_chars"))
      val top2 = d.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .select(col("source"), col("cnt"),
          row_number().over(W.partitionBy(pmod(col("cnt"), lit(1L)))
            .orderBy(desc("cnt"), asc("source"))).as("rn"))
        .where(col("rn") <= 2)
      val perVal = d
        .join(broadcast(top2.select(col("source"), col("rn"))),
          Seq("source"))
        .groupBy(col("n_chars")).agg(
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("d1"),
          sum(when(col("rn") === 2, 1L).otherwise(0L)).as("d2"))
      val wCum = W.partitionBy(pmod(col("n_chars"), lit(1L)))
        .orderBy(col("n_chars"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val names = top2.agg(
        max(when(col("rn") === 1, col("source"))).as("source_a"),
        max(when(col("rn") === 2, col("source"))).as("source_b"))
      val stats = perVal
        .select(col("d1"), col("d2"),
          sum(col("d1")).over(wCum).as("c1"),
          sum(col("d2")).over(wCum).as("c2"))
        .select(col("c1"), col("c2"),
          (col("d1") * (col("c1") + col("c2") - (col("d1") + col("d2"))
            + 1L + col("c1") + col("c2"))).as("r1x2t"))
        .agg(max(col("c1")).as("n_a"), max(col("c2")).as("n_b"),
          sum(col("r1x2t")).as("r1x2"))
      val u2 = lit(2L) * col("n_a") * col("n_b") +
        col("n_a") * (col("n_a") + 1L) - col("r1x2")
      stats.crossJoin(broadcast(names))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          u2.as("u2"),
          round(u2.cast("double") / (lit(2.0) * col("n_a") * col("n_b")), 6)
            .as("auc"),
          round((u2 - col("n_a") * col("n_b")).cast("double") * 0.5 /
            sqrt((col("n_a") * col("n_b")).cast("double") *
              (col("n_a") + col("n_b") + 1L) / 12.0), 6).as("z_approx"))
    }),
      """WITH sc AS (
           SELECT source, count(*) AS cnt FROM documents GROUP BY source),
         top2 AS (
           SELECT source, rn FROM (
             SELECT source,
               row_number() OVER (ORDER BY cnt DESC, source) AS rn
             FROM sc) WHERE rn <= 2),
         perval AS (
           SELECT n_chars,
             sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS d1,
             sum(CASE WHEN rn = 2 THEN 1 ELSE 0 END) AS d2
           FROM documents d JOIN top2 t USING (source)
           GROUP BY n_chars),
         cums AS (
           SELECT d1, d2,
             sum(d1) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c1,
             sum(d2) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c2
           FROM perval),
         stats AS (
           SELECT CAST(max(c1) AS BIGINT) AS n_a,
             CAST(max(c2) AS BIGINT) AS n_b,
             CAST(sum(d1 * (c1 + c2 - (d1 + d2) + 1 + c1 + c2)) AS BIGINT)
               AS r1x2
           FROM cums),
         names AS (
           SELECT max(CASE WHEN rn = 1 THEN source END) AS source_a,
             max(CASE WHEN rn = 2 THEN source END) AS source_b
           FROM top2)
         SELECT source_a, source_b, n_a, n_b,
           2 * n_a * n_b + n_a * (n_a + 1) - r1x2 AS u2,
           ROUND(CAST(2 * n_a * n_b + n_a * (n_a + 1) - r1x2 AS DOUBLE)
             / (2 * n_a * n_b), 6) AS auc,
           ROUND(CAST((2 * n_a * n_b + n_a * (n_a + 1) - r1x2)
               - n_a * n_b AS DOUBLE) * 0.5
             / sqrt(CAST(n_a * n_b AS DOUBLE) * (n_a + n_b + 1) / 12.0), 6)
             AS z_approx
         FROM stats CROSS JOIN names"""),

    // ── Wasserstein-1 (earth mover's) drift between the top-2 sources ───
    // q_ks_drift reads the worst single CDF gap; this integrates ALL of
    // it: W₁ = ∫|F_a − F_b| dx = Σ |c_a·n_b − c_b·n_a|·Δx / (n_a·n_b)
    // over the pooled distinct-length jump points — numerator exact
    // int64 (decimal-accumulated), Δx from one lead() on the ≤|support|
    // relation, ONE division at the edge. Same machinery, the
    // transport-cost number a mixture rebalance actually minimizes.
    Query("q_emd_drift", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("source"), col("n_chars"))
      val top2 = d.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .select(col("source"), col("cnt"),
          row_number().over(W.partitionBy(pmod(col("cnt"), lit(1L)))
            .orderBy(desc("cnt"), asc("source"))).as("rn"))
        .where(col("rn") <= 2)
      val perVal = d
        .join(broadcast(top2.select(col("source"), col("rn"))),
          Seq("source"))
        .groupBy(col("n_chars")).agg(
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("d1"),
          sum(when(col("rn") === 2, 1L).otherwise(0L)).as("d2"))
      val wCum = W.partitionBy(pmod(col("n_chars"), lit(1L)))
        .orderBy(col("n_chars"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val wLead = W.partitionBy(pmod(col("n_chars"), lit(1L)))
        .orderBy(col("n_chars"))
      val cums = perVal.select(col("n_chars"),
        sum(col("d1")).over(wCum).as("c1"),
        sum(col("d2")).over(wCum).as("c2"),
        (lead(col("n_chars"), 1).over(wLead) - col("n_chars")).as("dx"))
      val tot = cums.agg(max(col("c1")).as("n_a"), max(col("c2")).as("n_b"))
      val names = top2.agg(
        max(when(col("rn") === 1, col("source"))).as("source_a"),
        max(when(col("rn") === 2, col("source"))).as("source_b"))
      cums.where(col("dx").isNotNull)
        .crossJoin(broadcast(tot))
        .agg(
          sum((abs(col("c1") * col("n_b") - col("c2") * col("n_a"))
            * col("dx")).cast("decimal(38,0)")).as("num"),
          max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
        .crossJoin(broadcast(names))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          round(col("num").cast("double") / (col("n_a") * col("n_b")), 6)
            .as("w1"))
    }),
      """WITH sc AS (
           SELECT source, count(*) AS cnt FROM documents GROUP BY source),
         top2 AS (
           SELECT source, rn FROM (
             SELECT source,
               row_number() OVER (ORDER BY cnt DESC, source) AS rn
             FROM sc) WHERE rn <= 2),
         perval AS (
           SELECT n_chars,
             sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS d1,
             sum(CASE WHEN rn = 2 THEN 1 ELSE 0 END) AS d2
           FROM documents d JOIN top2 t USING (source)
           GROUP BY n_chars),
         cums AS (
           SELECT n_chars,
             sum(d1) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c1,
             sum(d2) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c2,
             lead(n_chars, 1) OVER (ORDER BY n_chars) - n_chars AS dx
           FROM perval),
         tot AS (SELECT max(c1) AS n_a, max(c2) AS n_b FROM cums),
         agg AS (
           SELECT sum(CAST(abs(c1 * n_b - c2 * n_a) * dx AS DECIMAL(38,0)))
               AS num,
             max(n_a) AS n_a, max(n_b) AS n_b
           FROM cums CROSS JOIN tot
           WHERE dx IS NOT NULL),
         names AS (
           SELECT max(CASE WHEN rn = 1 THEN source END) AS source_a,
             max(CASE WHEN rn = 2 THEN source END) AS source_b
           FROM top2)
         SELECT source_a, source_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(CAST(num AS DOUBLE) / (n_a * n_b), 6) AS w1
         FROM agg CROSS JOIN names"""),

    // ── Gini concentration of token mass per source ─────────────────────
    // The data-balance audit behind every mixture decision: how unequally
    // is a source's token budget spread over its documents? Population
    // Gini over ws-token counts, G = 2·Σᵢ i·xᵢ /(n·Σx) − (n+1)/n with
    // ranks from one source-partitioned window (tie-pinned by doc_id —
    // Σ i·xᵢ is tie-order invariant since tied blocks share x). All
    // numerators exact int64; two IEEE divisions + one subtraction at
    // the edge, rounded once at 6. One tokenizing scan, one window
    // shuffle on source, one aggregate — nothing pair-scale.
    Query("q_token_gini", ((s, dir) => {
      val m = docs(s, dir).select(col("source"), col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("x"))
      val ranked = m.select(col("source"), col("x"),
        row_number().over(Window.partitionBy(col("source"))
          .orderBy(col("x"), col("doc_id"))).as("i"))
      ranked.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("x")).as("tok_total"),
          sum(col("i") * col("x")).as("iwx"))
        .select(col("source"), col("n_docs"), col("tok_total"),
          round((col("iwx") * 2L).cast("double") /
              (col("n_docs") * col("tok_total"))
            - (col("n_docs") + 1L).cast("double") / col("n_docs"), 6)
            .as("gini"))
        .orderBy("source")
    }),
      """WITH m AS (
           SELECT source, doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                      x -> x <> '')) AS BIGINT) AS x
           FROM documents),
         r AS (
           SELECT source, x,
             row_number() OVER (PARTITION BY source ORDER BY x, doc_id)
               AS i
           FROM m),
         g AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(x) AS BIGINT) AS tok_total,
             CAST(sum(i * x) AS BIGINT) AS iwx
           FROM r GROUP BY source)
         SELECT source, n_docs, tok_total,
           ROUND(CAST(2 * iwx AS DOUBLE) / (n_docs * tok_total)
                 - CAST(n_docs + 1 AS DOUBLE) / n_docs, 6) AS gini
         FROM g ORDER BY source"""),

    // ── Count-min sketch accuracy audit over the token stream ───────────
    // The OTHER streaming frequency sketch next to q_hll_merge's
    // cardinality one: a 4×1024 CMS built relationally — each vocabulary
    // row fans out its 4 (row, h60(tok:r) mod 1024) cells, the sketch is
    // ONE keyed aggregate collapsing to ≤4096 cells no matter the corpus
    // size — then audited against exact truth on the top-20 tokens:
    // estimate = min over rows of the hit cell, overestimate = est −
    // true ≥ 0 always (the CMS one-sided guarantee, asserted in spec).
    // This is the design read before committing sketch params for a
    // 100 TB heavy-hitters pass: all-integer, exactly replayable (the
    // shared h60 hash), every join keyed on (row, bucket).
    Query("q_cms", ((s, dir) => {
      val W = 1024L
      val freq = tokStream(s, dir).groupBy(col("tok"))
        .agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def cells(df: DataFrame): DataFrame = df
        .select(col("tok"), col("c"),
          explode(sequence(lit(0L), lit(3L))).as("r"))
        .select(col("tok"), col("c"), col("r"),
          pmod(graft.functions.Hashes.h60(
            concat(col("tok"), lit(":"), col("r").cast("string"))),
            lit(W)).as("bucket"))
      val sketch = cells(freq).groupBy(col("r"), col("bucket"))
        .agg(sum(col("c")).as("bc"))
      val top = freq.orderBy(desc("c"), col("tok")).limit(20)
      cells(top).join(sketch, Seq("r", "bucket"))
        .groupBy(col("tok"), col("c")).agg(min(col("bc")).as("est"))
        .select(col("tok"), col("c").as("true_count"),
          col("est").as("cms_estimate"),
          (col("est") - col("c")).as("overestimate"))
        .orderBy(desc("true_count"), col("tok"))
    }),
      s"""WITH $TokCte,
         freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY 1),
         fan AS (SELECT tok, c, g.r,
             ${graft.functions.Hashes.h60Sql(
               "tok||':'||CAST(g.r AS VARCHAR)")} % 1024 AS bucket
           FROM freq, LATERAL (SELECT unnest(generate_series(0, 3)) AS r)
             g),
         sketch AS (SELECT r, bucket, CAST(SUM(c) AS BIGINT) AS bc
           FROM fan GROUP BY 1, 2),
         top AS (SELECT tok, c FROM freq ORDER BY c DESC, tok LIMIT 20),
         tf AS (SELECT t.tok, t.c, g.r,
             ${graft.functions.Hashes.h60Sql(
               "t.tok||':'||CAST(g.r AS VARCHAR)")} % 1024 AS bucket
           FROM top t, LATERAL (SELECT unnest(generate_series(0, 3))
             AS r) g),
         est AS (SELECT tf.tok, tf.c, min(s.bc) AS est
           FROM tf JOIN sketch s ON s.r = tf.r AND s.bucket = tf.bucket
           GROUP BY 1, 2)
         SELECT tok, c AS true_count, est AS cms_estimate,
           est - c AS overestimate
         FROM est ORDER BY true_count DESC, tok"""),

    // ── Differential-privacy mechanism audit (seeded Laplace) ───────────
    // The privacy-release primitive next to q_k_anonymity's risk audit:
    // per-source doc counts ε=1 Laplace-noised via the INVERSE-CDF map
    // noise = −b·sign(u−½)·ln(1−2|u−½|) with u a shared-hash uniform
    // (h60(source‖':dp') folded to (0,1) by one exact-integer divide) —
    // seeded, so both engines draw the IDENTICAL noise and the release
    // is exactly replayable (the audit framing: true counts ride along
    // to report |err| against the b = 1/ε expectation). One keyed
    // aggregate; the noise chain is per-group IEEE rounded once.
    Query("q_dp_noise", ((s, dir) => {
      val u = ((pmod(graft.functions.Hashes.h60(
          concat(col("source"), lit(":dp"))), lit(1000000L))
          .cast("double") + 0.5) / 1000001.0).as("u")
      val b = 1.0 // Laplace scale = sensitivity/epsilon = 1/1.0
      docs(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("n_docs"), u)
        .select(col("source"), col("n_docs"),
          round(col("n_docs") +
            -signum(col("u") - 0.5) * lit(b) *
              log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)), 6)
            .as("noisy_n"))
        .select(col("source"), col("n_docs"), col("noisy_n"),
          round(abs(col("noisy_n") - col("n_docs")), 6).as("abs_err"))
        .orderBy("source")
    }),
      s"""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
         seeded AS (SELECT source, n_docs,
             (CAST(${graft.functions.Hashes.h60Sql("source||':dp'")}
               % 1000000 AS DOUBLE) + 0.5) / 1000001.0 AS u
           FROM g),
         noised AS (SELECT source, n_docs,
             ROUND(n_docs + -sign(u - 0.5) * 1.0
               * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_n
           FROM seeded)
         SELECT source, n_docs, noisy_n,
           ROUND(abs(noisy_n - n_docs), 6) AS abs_err
         FROM noised ORDER BY source"""),
  )
}
