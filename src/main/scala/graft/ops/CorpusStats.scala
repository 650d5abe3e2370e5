package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level language-model statistics — the operators a training-data
  * pipeline runs between curation and tokenizer/model training: unigram
  * LM scoring (the classic perplexity-proxy quality signal), PMI
  * collocation mining, vocabulary-coverage curves (the tokenizer-design
  * input), per-document token entropy, and temperature-scaled mixture
  * weights (the data-recipe knob).
  *
  * Numeric contract (shared with the DuckDB oracles): every `ln`/`sqrt`
  * is rounded to 6 decimals BEFORE any aggregation or ranking, every sum
  * of rounded doubles accumulates in DECIMAL so the result is independent
  * of partitioning and shuffle order, and divisions happen in double
  * (never decimal ÷ decimal — the two engines' decimal scale rules
  * differ). Integer counts stay exact longs end to end.
  *
  * Scale posture: all inputs arrive as an exploded `(doc, token)` stream;
  * every operator below is one or two hash aggregations plus (at most)
  * a join against a vocabulary-sized relation. Global windows appear
  * only AFTER a top-k contraction (`orderBy.limit(k)` →
  * `TakeOrderedAndProject`) or over per-group aggregates with
  * group-count cardinality, never over row-scale data.
  */
object CorpusStats {

  private val Dec = "decimal(28,10)"

  /** Exploded `(doc_id, tok)` stream from a tokens-array column — the
    * shared input shape for the per-token operators. */
  def tokenStream(docs: DataFrame, idCol: String, toksCol: Column): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(toksCol).as("tok"))

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram LM — the cheap perplexity proxy used to score documents
    * before a real LM is available. p(t) = count(t) / Σcounts, scored as
    * mean over the document's token stream of round(ln p(t), 6).
    *
    * Plan: one hash agg builds the unigram table, one hash agg scores —
    * the token→frequency join broadcasts the vocabulary only when its
    * MEASURED size is under `broadcastMaxVocab` (Heaps' law: vocab grows
    * ~√corpus, so at 100 TB it is usually still ≪ executor memory — but
    * a web-scale uncapped vocabulary can reach hundreds of millions of
    * rows, so the hint is GATED like [[graft.ops.Graph.pageRank]]'s
    * `broadcastMaxNodes` and AQE owns the join sides above the
    * threshold). The size probe doubles as the persist materializer.
    */
  def unigramLogProb(tok: DataFrame,
                     broadcastMaxVocab: Long = 10000000L): DataFrame = {
    // pre-aggregate to per-(doc, token) counts FIRST: one tokenize pass
    // (persisted — the frequency table and the scoring join both read it;
    // cache lifetime is caller-managed, Verify/Bench clear per query), and
    // the vocabulary join then carries one row per distinct doc-token
    // instead of one per occurrence — typically a several-× contraction
    // before the shuffle, and exactly the map-side-combine shape Spark's
    // partial aggregation wants.
    val dc = tok.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("dc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = dc.groupBy(col("tok")).agg(sum(col("dc")).cast("long").as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one driver scalar gates the broadcast hint (and materializes the
    // dc/freq caches the two downstream branches share)
    val v = freq.count()
    def bcast(df: DataFrame): DataFrame =
      if (v <= broadcastMaxVocab) broadcast(df) else df
    val tot = freq.agg(sum(col("c")).cast("long").as("n_total"))
    // dc·lp multiplies in DOUBLE on both engines (bit-identical IEEE), the
    // PRODUCT is cast to decimal, and only the sum accumulates exactly —
    // the q_doc_entropy-proven portable weighted-sum shape
    dc.join(bcast(freq), Seq("tok"))
      .crossJoin(broadcast(tot)) // 1-row global total
      .select(col("doc_id"), col("dc"),
        round(log(col("c") / col("n_total")), 6).as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("dc")).cast("long").as("n_tokens"),
        round(sum((col("dc") * col("lp")).cast(Dec)).cast("double")
          / sum(col("dc")), 6).as("mean_logprob"))
  }

  /** Per-document mean BIGRAM conditional log-probability under the
    * corpus's own add-one-smoothed bigram LM — the next rung above
    * [[unigramLogProb]] on the perplexity-proxy ladder (context-aware
    * scoring that penalizes improbable token TRANSITIONS, not just rare
    * tokens): lp(w_i | w_{i−1}) = ln((c(w_{i−1}w_i) + 1) / (c(w_{i−1}) + V)),
    * V = unigram vocabulary size (Laplace smoothing keeps unseen
    * transitions finite), scored as the per-doc mean of round(lp, 6)
    * over the doc's bigram stream. Docs with < 2 tokens have no bigram
    * stream and are absent (the [[docEntropy]] absence semantics).
    *
    * Plan: per-(doc, bigram) counts FIRST (map-side contraction), then
    * one KEYED join against the bigram-type relation (bigram types are
    * corpus-scale in the worst case — never broadcast; AQE owns the
    * sides), and one join against the vocabulary-sized unigram
    * marginals whose broadcast hint is GATED on the measured vocabulary
    * size (`broadcastMaxVocab`, the [[unigramLogProb]] /
    * [[graft.ops.Graph.pageRank]] pattern — a web-scale uncapped
    * vocabulary must not be force-broadcast). The measured size also
    * supplies the smoothing constant V directly, replacing the one-row
    * vocab-size crossJoin. Same decimal weighted-sum portability
    * contract as the rest of the family.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, toksCol: Column,
                    broadcastMaxVocab: Long = 10000000L): DataFrame = {
    // tokenize once: the bigram stream and the unigram marginals both
    // read it (cache lifetime caller-managed; Verify/Bench clear per query)
    val tokenized = docs.select(col(idCol).as("doc_id"), toksCol.as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks = col("toks")
    // sequence(1, n-1) DESCENDS for n = 0 — guard empty/1-token docs
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val db = tokenized.select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("dc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bgFreq = db.groupBy(col("bg")).agg(sum(col("dc")).cast("long").as("c_ab"))
    val uni = tokenized.select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c_a"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // V is the one driver scalar: it gates the broadcast hint AND is the
    // Laplace smoothing constant (materializes tokenized/uni on the way)
    val v = uni.count()
    def bcast(df: DataFrame): DataFrame =
      if (v <= broadcastMaxVocab) broadcast(df) else df
    db.join(bgFreq, Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(bcast(uni.select(col("tok").as("w1"), col("c_a"))), Seq("w1"))
      .select(col("doc_id"), col("dc"),
        round(log((col("c_ab") + 1) / (col("c_a") + lit(v))), 6).as("lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("dc")).cast("long").as("n_bigrams"),
        round(sum((col("dc") * col("lp")).cast(Dec)).cast("double")
          / sum(col("dc")), 6).as("mean_logprob"))
  }

  /** Top-k bigram collocations by pointwise mutual information:
    * PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) with p(ab) over the bigram
    * stream and p(·) over the unigram stream, restricted to bigrams with
    * count ≥ `minCount` (PMI is noise at low counts). Rank is over the
    * ROUNDED score, ties by bigram text — engine-portable.
    *
    * The candidate set after the minCount floor is vocabulary²-bounded
    * but in practice tiny (Zipf: almost no bigram type clears a real
    * floor), and the final ranking is a `TakeOrderedAndProject` — the
    * global row_number window only ever sees the k survivors.
    */
  def pmiCollocations(docs: DataFrame, idCol: String, toksCol: Column,
                      minCount: Long, k: Int): DataFrame = {
    // tokenize ONCE and persist: without this the plan's five branches
    // (bigram stream, unigram table ×2 joins, unigram total, bigram total)
    // each re-run the regex tokenizer over the corpus — measured 6.8 s →
    // ~1.5 s at sf0.1. Cache lifetime is caller-managed (Verify/Bench
    // clear per query).
    val tokenized = docs.select(toksCol.as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks = col("toks")
    // sequence(1, n-1) DESCENDS for n = 0 — guard empty/1-token docs
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val bg = tokenized.select(explode(bigrams).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    // vocabulary-sized; persisted because it feeds both marginal joins
    // and the unigram total
    val uni = tokenized.select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nUni = uni.agg(sum(col("c")).cast("long").as("n_uni"))
    val nBig = tokenized.select(
        greatest(size(toks) - 1, lit(0)).cast("long").as("nb"))
      .agg(sum(col("nb")).as("n_big"))
    val scored = bg
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(broadcast(uni.select(col("tok").as("w1"), col("c").as("c_a"))), Seq("w1"))
      .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("c_b"))), Seq("w2"))
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBig))
      .select(col("bg"), col("c_ab"),
        round(log((col("c_ab") / col("n_big"))
          / ((col("c_a") / col("n_uni")) * (col("c_b") / col("n_uni")))), 6)
          .as("pmi"),
        col("n_big"))
    // top-k contraction FIRST (TakeOrderedAndProject), then rank the k
    // survivors — the global window never sees the full bigram table.
    // The carried 1-row total doubles as the window's constant partition
    // key (the q_vocab trick: a foldable lit(0) is stripped by the
    // optimizer and an empty spec logs the single-partition warning):
    // same single partition over the k post-limit rows, but the
    // WindowExec warning channel stays clean for real row-scale
    // regressions (VERDICT r07 #7).
    val top = scored.orderBy(desc("pmi"), asc("bg")).limit(k)
    top.withColumn("rank",
        row_number().over(Window.partitionBy(col("n_big"))
          .orderBy(desc("pmi"), asc("bg"))).cast("int"))
      .select(col("rank"), col("bg"), col("c_ab"), col("pmi"))
  }

  /** Per-group out-of-vocabulary rate under a GLOBAL top-`k` vocabulary
    * cut — the tokenizer-fairness companion of [[vocabCoverage]]: a
    * frequency-built vocab covers the dominant language far better than
    * the tail ones (Petrov et al., "Language Model Tokenizers Introduce
    * Unfairness Between Languages", NeurIPS 2023 measured exactly this
    * skew), and this is the per-language number that exposes it before a
    * vocab size is frozen. Emits (group, n_tokens, covered, oov_rate).
    *
    * Scale posture: the vocab cut is a `TakeOrderedAndProject` over the
    * frequency aggregate, then a k-row BROADCAST into the scoring pass —
    * two corpus-scale aggregates total (frequency build, per-group
    * count), both map-side-combined; no corpus-sized join key. The token
    * stream is re-derived for scoring rather than cached: a narrow
    * tokenize recompute beats materializing a corpus-scale intermediate.
    */
  def oovRate(docs: DataFrame, groupCol: String, toksCol: Column,
              k: Int): DataFrame = {
    val tok = docs.select(col(groupCol), explode(toksCol).as("tok"))
    val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("tok")).limit(k)
      .select(col("tok"))
    tok.join(broadcast(vocab.withColumn("in_vocab", lit(1))),
        Seq("tok"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNotNull, 1L).otherwise(0L)).as("covered"))
      .select(col(groupCol), col("n_tokens"), col("covered"),
        round(lit(1.0) - col("covered").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
  }

  /** Vocabulary-coverage curve: the `k` most frequent tokens (ties by
    * token text) with the cumulative fraction of the corpus token stream
    * they cover — the input to tokenizer/vocab-size decisions.
    *
    * The `orderBy.limit(k)` contraction is a `TakeOrderedAndProject`
    * (per-partition top-k, no global sort); the cumulative window then
    * runs over exactly k rows.
    */
  def vocabCoverage(tok: DataFrame, k: Int): DataFrame = {
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum(col("c")).cast("long").as("n_total"))
    // the crossJoined 1-row total doubles as the window's constant
    // partition key: same single partition over the k post-limit rows,
    // but the partitionSpec is non-empty (and survives the optimizer,
    // unlike a foldable lit(0)), so the WindowExec single-partition
    // warning channel stays clean for real regressions (VERDICT r07 #7)
    val ord = Window.partitionBy(col("n_total")).orderBy(desc("c"), asc("tok"))
    freq.orderBy(desc("c"), asc("tok")).limit(k)
      .crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(ord).cast("int"))
      .withColumn("cum", sum(col("c")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("tok"), col("c"),
        round(col("cum") / col("n_total"), 6).as("coverage"))
  }

  /** Per-document token-distribution statistics: Shannon entropy of the
    * within-document unigram distribution, computed in the
    * aggregation-friendly form H = ln(n) − (Σ c·ln c)/n (one pass over
    * per-(doc, token) counts — no per-document normalization step), plus
    * the type–token ratio. Documents with zero tokens have no unigram
    * distribution and are absent (the oracle's unnest drops them too).
    */
  def docEntropy(tok: DataFrame): DataFrame =
    tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum((col("c") * round(log(col("c")), 6)).cast(Dec)).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(log(col("n_tokens")) - col("s").cast("double") / col("n_tokens"), 6)
          .as("entropy"),
        round(col("n_distinct") / col("n_tokens"), 6).as("ttr"))

  /** Per-group relative score buckets (the CCNet curation idiom): split
    * each group's score distribution at the `lo` and `hi` quantiles and
    * label rows `head` (≥ hi), `middle` (≥ lo), `tail` — used to keep or
    * re-weight the best-scoring slice of every language/source instead of
    * applying one global threshold that starves low-resource groups.
    *
    * Plan: one per-group aggregate computes both thresholds (group-count
    * cardinality — broadcast back), then a narrow CASE labels rows; no
    * per-row window, no sort of the corpus. Thresholds are exact
    * `percentile` rounded to 6 (the q_percentiles-proven portable pair
    * with DuckDB `quantile_cont`); at 100 TB swap in `approx_percentile`
    * if the per-group sort-agg ever dominates — the plan shape is
    * unchanged.
    */
  def scoreBuckets(scored: DataFrame, grpCol: String, scoreCol: String,
                   lo: Double = 1.0 / 3, hi: Double = 2.0 / 3): DataFrame = {
    val th = scored.groupBy(col(grpCol))
      .agg(round(expr(s"percentile($scoreCol, $lo)"), 6).as("t_lo"),
        round(expr(s"percentile($scoreCol, $hi)"), 6).as("t_hi"))
    scored.join(broadcast(th), Seq(grpCol))
      .withColumn("bucket",
        when(col(scoreCol) >= col("t_hi"), lit("head"))
          .when(col(scoreCol) >= col("t_lo"), lit("middle"))
          .otherwise(lit("tail")))
  }

  /** Temperature-scaled mixture weights per group (the data-recipe knob):
    * with p_g = tokens_g / Σtokens, the sampled weight at temperature
    * T = 1/2 is w_g = p_g^½ / Σ p^½ = √tokens_g / Σ√tokens — the
    * up-weighting of low-resource groups used in multilingual training.
    * The global windows run over the per-group aggregate (one row per
    * group — languages, sources), never over documents.
    */
  def mixtureWeights(docs: DataFrame, groupCol: String,
                     nTokensCol: Column): DataFrame = {
    // totals via the engine's one-row-aggregate + broadcast crossJoin
    // idiom instead of empty-partition windows: same values (both sums
    // are order-independent), no WindowExec single-partition warning
    // (VERDICT r07 #7). `g` is group-count rows, persisted because the
    // totals aggregate and the final projection both read it (lifetime
    // caller-managed; Verify/Bench clear per query).
    val g = docs.select(col(groupCol).as("grp"), nTokensCol.as("nt"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).cast("long").as("grp_tokens"))
      .withColumn("s", round(sqrt(col("grp_tokens")), 6).cast(Dec))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = g.agg(sum(col("grp_tokens")).as("tok_tot"), sum(col("s")).as("s_tot"))
    g.crossJoin(broadcast(tot))
      .select(col("grp"), col("n_docs"), col("grp_tokens"),
        round(col("grp_tokens") / col("tok_tot"), 6).as("p_raw"),
        round(col("s").cast("double") / col("s_tot").cast("double"), 6)
          .as("w_sampled"))
  }

  /** Per-group MIX ENTROPY: for each outer group (source), the Shannon
    * entropy of its inner-group (language) composition, plus the
    * ln(n_inner)-normalized form — the "how diverse is this source"
    * scalar a mixture dashboard tracks next to [[mixtureWeights]]: a
    * source whose mix entropy collapses between crawls changed character
    * even if its volume didn't. One contingency aggregate (the
    * [[graft.queries]] q_mi posture: marginals derive from the CELLS,
    * never a second corpus scan); entropy terms are p·ln p rounded 6 and
    * decimal-summed; single-inner-group rows emit entropy 0 with NULL
    * normalized entropy (0/0 — mirrored in the oracle).
    */
  def groupMixEntropy(docs: DataFrame, outerCol: String,
                      innerCol: String): DataFrame = {
    val cells = docs.groupBy(col(outerCol).as("grp"), col(innerCol).as("sub"))
      .agg(count(lit(1)).as("c"))
    val tot = cells.groupBy(col("grp"))
      .agg(sum(col("c")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_subs"))
    val p = col("c").cast("double") / col("n_docs").cast("double")
    cells.join(tot, Seq("grp"))
      .select(col("grp"), col("n_docs"), col("n_subs"),
        round(p * log(p), 6).cast("decimal(28,6)").as("term"))
      .groupBy(col("grp"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("n_subs")).as("n_subs"),
        // 0.0 − Σ (not unary minus): a single-sub group's Σ is exactly 0
        // and -0.0 would hash-differ from the oracle's 0.0
        round(lit(0.0) - sum(col("term")).cast("double"), 6).as("entropy"))
      .withColumn("norm_entropy",
        when(col("n_subs") > 1,
          round(col("entropy") / log(col("n_subs").cast("double")), 6)))
  }

  /** Token-budget DATA RECIPE: given a target training-token budget and
    * the temperature-scaled mixture weights of [[mixtureWeights]], the
    * per-group sampling plan — target tokens (floor of the budget share)
    * and `epochs`, the oversampling factor target/available (the
    * "epochs over source" column of a LLaMA-style data table; epochs > 1
    * means the group repeats, the overfitting-risk flag mixture design
    * watches). Pure arithmetic over the group-count mixture relation —
    * the corpus-scale work is [[mixtureWeights]]'s single aggregate; the
    * plan itself is group-count rows.
    *
    * Determinism: `w_sampled` is round-6; budget·w is ONE IEEE double
    * product floored — identical in both engines; `epochs` divides two
    * exact longs and rounds 6.
    */
  def tokenBudgetPlan(docs: DataFrame, groupCol: String,
                      nTokensCol: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget: $budget")
    mixtureWeights(docs, groupCol, nTokensCol)
      .select(col("grp"), col("n_docs"), col("grp_tokens"), col("w_sampled"),
        floor(lit(budget.toDouble) * col("w_sampled")).cast("long")
          .as("target_tokens"))
      .withColumn("epochs",
        round(col("target_tokens").cast("double")
          / col("grp_tokens").cast("double"), 6))
  }

  /** Exact heavy hitters (tokens with count ≥ ⌈phi·N⌉) via a
    * Count-Min-Sketch pre-pass — the two-pass heavy-hitter pattern. Pass
    * 1 folds the stream into a fixed-size CMS (mergeable counters, built
    * map-side by `DataFrameStatFunctions.countMinSketch`; merge order
    * cannot change the counts, so the sketch is deterministic under any
    * partitioning). The broadcast sketch then MAP-SIDE filters pass 2:
    * only tokens whose CMS estimate clears the threshold reach the exact
    * aggregation, so the shuffle carries ≤ 1/phi true heavy keys plus the
    * eps·N over-count fringe instead of the whole vocabulary.
    *
    * Exact, not approximate: CMS never under-counts, so the candidate set
    * is a superset of the true heavy hitters and the exact count+HAVING
    * restores precision — the candidates→verify contract again. The
    * driver holds one sketch of width e/eps × depth ln(1/δ) (a few MB),
    * never the vocabulary.
    */
  def heavyHitters(tok: DataFrame, phi: Double, eps: Double = 1e-4,
                   confidence: Double = 0.999, seed: Int = 42): DataFrame = {
    require(phi > 0 && phi < 1, s"phi: $phi")
    // NULL tokens are dropped BEFORE the sketch so the threshold's N and
    // the candidate stream count the same population (ADVICE r07: the
    // sketch's totalCount skips nulls while a count(*) would not — a
    // null-bearing stream would silently diverge the two)
    val nn = tok.where(col("tok").isNotNull)
    val cms = nn.stat.countMinSketch(col("tok"), eps, confidence, seed)
    val threshold = math.ceil(phi * cms.totalCount).toLong
    val cmsB = nn.sparkSession.sparkContext.broadcast(cms)
    // native codegen'd predicate, not a UDF: the candidate filter runs on
    // the corpus-scale token stream and must stay inside the fused stage
    // (null-safe by Expression contract; the stream is already null-free)
    val isCandidate = graft.expr.CmsAtLeast(cmsB, threshold) _
    nn.where(isCandidate(col("tok")))
      .groupBy(col("tok"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .where(col("cnt") >= threshold)
  }

  /** Okapi BM25 top-k retrieval over the token stream for a literal term
    * set — the classic lexical ranking a curation stack runs for targeted
    * corpus search (and the retrieval baseline embedding ANN is judged
    * against). idf uses the Robertson/Lucene smooth form
    * ln((N − df + ½)/(df + ½) + 1) ≥ 0.
    *
    * Plan: the term filter is pushed to the token stream FIRST, so tf, df
    * and the scoring join all run on the |terms|-restricted stream; the
    * corpus-wide inputs are one per-doc length aggregate (`dl`, reused by
    * the 1-row stats aggregate and the scoring join — persisted, caller
    * clears) and that single-row avgdl crossJoin. Final cut is
    * `orderBy.limit(k)` → TakeOrderedAndProject, never a global sort.
    *
    * Numeric contract: idf and each per-term partial are rounded to 6
    * BEFORE the decimal partial-sum, so scores are shuffle-order-exact —
    * double arithmetic INSIDE a partial mirrors the oracle term for term
    * (same literals, same association).
    */
  def bm25TopK(tok: DataFrame, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "empty term set")
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("long").as("tok_total"))
    val qtf = tok.where(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfc = qtf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = qtf.join(broadcast(dfc), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats)) // 1-row global (n_docs, tok_total)
      .withColumn("idf",
        round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1), 6))
      .withColumn("avgdl", col("tok_total").cast("double") / col("n_docs"))
      .withColumn("s",
        round(col("idf") * (col("tf") * lit(k1 + 1))
          / (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
    scored.groupBy(col("doc_id"))
      .agg(round(sum(col("s").cast(Dec)).cast("double"), 6).as("bm25"),
        count(lit(1)).cast("long").as("n_hit"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(k)
  }

  /** Pairwise n-gram overlap between corpus GROUPS (sources, languages):
    * for every group pair, the Jaccard similarity of their distinct
    * n-gram hash sets — the dataset-card-level signal for "how much of
    * source B is already in source A" that drives mixing and dedup
    * decisions between data sources. Pairs with zero shared n-grams are
    * absent (inner join semantics).
    *
    * Scale posture: the `(grp, h)` relation is distinct n-grams ×
    * groups (vocabulary-scale, not corpus-scale); the self-join key `h`
    * carries at most nGroups rows per hash, so candidate volume is
    * bounded by nGroups² per n-gram type — keyed hash joins only, and
    * the per-group set sizes broadcast back (group-count rows).
    */
  def groupOverlap(docs: DataFrame, grpCol: String, toksCol: Column,
                   n: Int): DataFrame = {
    // distinct per (group, n-gram); persisted — the sizes aggregate and
    // both self-join branches read it (lifetime caller-managed;
    // Verify/Bench clear per query)
    val gh = docs.select(col(grpCol).as("grp"),
        explode(Dedup.ngramHashSet(toksCol, n)).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = gh.groupBy(col("grp")).agg(count(lit(1)).as("n_set"))
    val pairs = gh.select(col("grp").as("grp_a"), col("h"))
      .join(gh.select(col("grp").as("grp_b"), col("h")), Seq("h"))
      .where(col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("grp").as("grp_a"), col("n_set").as("n_a"))),
        Seq("grp_a"))
      .join(broadcast(sizes.select(col("grp").as("grp_b"), col("n_set").as("n_b"))),
        Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"), col("n_shared"),
        round(col("n_shared") / (col("n_a") + col("n_b") - col("n_shared")), 6)
          .as("jaccard"))
  }

  /** Per-document duplicated-n-gram fraction — the boilerplate/novelty
    * signal CCNet-class curation pipelines threshold on ("what share of
    * this doc's n-grams exists elsewhere in the corpus?"): for each doc,
    * the fraction of its DISTINCT n-gram hashes whose corpus document
    * frequency is ≥ 2. A verbatim copy scores 1.0; fully original text
    * scores 0.0; template-heavy pages land in between — the number a
    * quality gate reads next to length/punctuation stats.
    *
    * Scale posture: the df relation is distinct n-grams (vocabulary-
    * scale) aggregated with one keyed shuffle on the hash; the per-doc
    * fraction is one more keyed shuffle on the doc id. The exploded
    * (id, h) relation feeds both branches — persisted once, caller-
    * managed lifetime (the repo's per-query contract). No broadcast of
    * anything corpus-sized; boilerplate hashes need no cap here because
    * the join key is the doc id side, never a df-skewed fan-out.
    */
  def duplicatedNgramFraction(docs: DataFrame, idCol: String,
                              toksCol: Column, n: Int,
                              carryCols: Seq[String] = Nil): DataFrame = {
    val carried = carryCols.map(col)
    val ex = docs
      .select(col(idCol) +: Dedup.ngramHashSet(toksCol, n).as("hs") +: carried: _*)
      .where(size(col("hs")) > 0)
      .select(col(idCol) +: explode(col("hs")).as("h") +: carried: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hs is distinct per doc, so count(*) per hash IS document frequency
    val dfRel = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    ex.join(dfRel, Seq("h"))
      .groupBy(col(idCol) +: carried: _*)
      .agg(count(lit(1)).cast("long").as("n_ngrams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_ngrams"), 6))
  }

  /** Iterated BPE training over the word-frequency table: `k` successive
    * merges, re-deriving pair counts from the merged vocabulary between
    * iterations — the actual tokenizer-training loop, extending the
    * single-iteration candidate scan (`q_bpe_merge`). Returns one row per
    * merge step: `(step, a, b, cnt)` — the pair merged and its count at
    * the time of the merge.
    *
    * Representation: a word's current symbolization is its symbols joined
    * by a TWO-SPACE separator and wrapped in ONE sentinel space on each
    * end (symbols never contain whitespace — the tokenizer strips it), so
    * every symbol is flanked by ≥1 space on both sides. The greedy
    * left-to-right merge is then exactly `replace(sym, ' a  b ', ' ab ')`:
    * the pattern consumes one boundary space from each side (anchoring
    * BOTH symbol boundaries — without the flanks, ' a  b' would match the
    * trailing 'a' of an 'aa' symbol and fuse symbols that are not the
    * merge pair) and the replacement restores them, so consecutive
    * disjoint occurrences still all merge. Both Spark's and DuckDB's
    * `replace` scan left to right over non-overlapping occurrences and
    * never rescan replaced text, which is precisely BPE's
    * within-iteration greedy semantics ("a a a" + merge (a,a) → "aa a") —
    * so the oracle is the structurally identical CTE chain, not a
    * reimplementation.
    *
    * Scale posture: every iteration is one hash aggregate over the
    * VOCABULARY (Heaps-law-small, not the token stream) plus a
    * TakeOrderedAndProject(1) and a one-row broadcast crossJoin into the
    * merge projection. Each round's vocabulary and winning pair are
    * persisted — the union of k steps would otherwise re-derive round
    * i's vocabulary k−i times (cache lifetime caller-managed;
    * Verify/Bench clear per query). For LARGE k (a real tokenizer
    * trainer runs 30k–50k merges) the plan would otherwise nest one
    * join+aggregate layer per round and Catalyst analysis cost would grow
    * with k, so every `BpeCutEvery` (2) rounds the vocabulary lineage is
    * cut with an eager `localCheckpoint` (the [[graft.ops.Dedup.connectedComponents]]
    * pattern) and cache entries of superseded rounds are released — plan
    * depth and per-round cost stay CONSTANT in k (spec-gated by
    * plan-size equality across k in `CorpusStatsSpec`). The segment
    * length is also a STRING cost bound: each lazy round references the
    * previous vocabulary ~2× (merge winner + merge projection), and
    * AQE's per-stage plan-description updates walk such shared subtrees
    * once per PATH — ~2^segment (measured: 8-round segments at k≈60
    * spent minutes in plan-string generation; 4-round segments are
    * flat). Fault-tolerance trade: `localCheckpoint` blocks live on
    * executors without lineage — a 30k-merge run on preemptible hardware
    * should use reliable checkpointing instead (the [[graft.ops.Graph.pageRank]]
    * note applies verbatim).
    */
  def bpeTrain(tok: DataFrame, k: Int): DataFrame =
    bpeRounds(tok, k)._1.reduce(_ unionByName _)

  /** The APPLY half of BPE: the word-frequency table re-symbolized by the
    * `k` trained merges — `(sym, wc)` with `sym` the two-space-joined
    * subword units (sentinel flanks trimmed). Exploding it weighted by
    * `wc` gives corpus-frequency statistics of the learned subword
    * vocabulary (what a tokenizer design reads off a trained merge list).
    * Same fixed-depth plan as [[bpeTrain]]; both derive from one shared
    * iteration chain.
    */
  def bpeVocab(tok: DataFrame, k: Int): DataFrame =
    bpeRounds(tok, k)._2
      .select(trim(col("sym")).as("sym"), col("wc"))

  /** BPE INFERENCE: per-document subword segmentation statistics under
    * the k merges trained on the corpus's own word table — `(doc_id,
    * n_tokens, n_units)` with `n_units` the total subword count after
    * segmentation (n_units/n_tokens is the fertility a tokenizer design
    * tracks). Applying merges in rank order, each exhaustively, yields
    * exactly the trained vocabulary's symbolization for every trained
    * word, so segmentation is a KEYED JOIN of the token stream against
    * the vocabulary-scale `(word → unit count)` relation — the trained
    * artifact is reused, not recomputed per occurrence, and the join is
    * the [[unigramLogProb]] shape (Heaps-small build side, broadcast
    * gated on measured size).
    */
  def bpeSegmentStats(tok: DataFrame, k: Int,
                      broadcastMaxVocab: Long = 10000000L): DataFrame = {
    val Sep = "  "
    // unit lists never contain whitespace and join on exactly two
    // spaces, so collapsing the separators reconstructs the word
    val words = bpeVocab(tok, k)
      .select(call_function("replace", col("sym"), lit(Sep), lit("")).as("tok"),
        size(split(col("sym"), Sep)).cast("long").as("nu"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = words.count() // driver scalar gating the hint (and materializer)
    val dict = if (v <= broadcastMaxVocab) broadcast(words) else words
    tok.join(dict, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("nu")).cast("long").as("n_units"))
  }

  /** Per-merge-step compression curve from ONE training chain —
    * `(step, n_units, n_chars, units_per_char)` for each of the k merges.
    * Reads the stats off the single chain's intermediate vocabularies as
    * they materialize (one 1-row aggregate per round against the round's
    * persisted vocab — k bounded driver collects, the shape a real
    * tokenizer trainer's per-step logging has), instead of re-deriving k
    * independent chains (the r12 form: O(K²/2) rounds total, unusable at
    * a real tokenizer's K≈32k). `n_chars` is constant across steps — a
    * conservation invariant the oracle re-proves. Rounds where the corpus
    * has exhausted its merge candidates repeat the previous step's stats
    * (the no-op-merge semantics [[bpeTrain]] documents).
    */
  def bpeCompressionCurve(tok: DataFrame, k: Int): DataFrame = {
    val Sep = "  "
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    bpeRounds(tok, k, onVocab = (step, vocab) => {
      val r = vocab.select(col("wc"),
          size(split(trim(col("sym")), Sep)).cast("long").as("nu"),
          length(call_function("replace", trim(col("sym")), lit(Sep),
            lit(""))).cast("long").as("nc"))
        .agg(sum(col("wc") * col("nu")).cast("long").as("n_units"),
          sum(col("wc") * col("nc")).cast("long").as("n_chars"))
        .head()
      buf += ((step, r.getLong(0), r.getLong(1)))
    })
    val spark = tok.sparkSession
    import spark.implicits._
    buf.toSeq.toDF("step", "n_units", "n_chars")
      .select(col("step"), col("n_units"), col("n_chars"),
        round(col("n_units").cast("double")
          / col("n_chars").cast("double"), 6).as("units_per_char"))
  }

  /** BPE rounds per lazy segment: every `BpeCutEvery`-th round's
    * vocabulary is an eager `localCheckpoint` (see [[bpeTrain]]). Two keeps
    * the SQL-listener plan descriptions shallow — a 5-round fully lazy
    * nest built a ~24 MB description per action, 6 s of a timed run with
    * the data fully cached. The cut is plan-only: values do not depend
    * on it. */
  private val BpeCutEvery = 2

  private def bpeRounds(tok: DataFrame, k: Int,
      onVocab: (Int, DataFrame) => Unit = (_, _) => ())
      : (Seq[DataFrame], DataFrame) = {
    require(k >= 1, s"k: $k")
    val Sep = "  "
    val chars = transform(sequence(lit(1), length(col("tok"))),
      i => col("tok").substr(i, lit(1)))
    var vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("wc"))
      .select(concat(lit(" "), array_join(chars, Sep), lit(" ")).as("sym"),
        col("wc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // vocab cache entries since the last lineage cut — released on the
    // next checkpoint round, once their data is safely materialized
    // (unpersisting a LAZY round would silently force a recompute
    // through the full lineage instead)
    var supersedable = List(vocab)
    val steps = (1 to k).map { step =>
      val syms = split(trim(col("sym")), Sep)
      // sequence(1, n-1) DESCENDS for n = 1 — guard single-symbol words
      val pairs = when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("a"),
            element_at(syms, i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
      val top = vocab.select(col("wc"), explode(pairs).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).cast("long").as("cnt"))
        .orderBy(desc("cnt"), col("a"), col("b")).limit(1)
        .select(lit(step).as("step"), col("a"), col("b"), col("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // LEFT join on TRUE, not crossJoin: when the corpus exhausts its
      // merge candidates before round k, `top` is EMPTY and a crossJoin
      // would annihilate the vocabulary (bpeVocab silently returning an
      // empty corpus); the left join passes every word through unchanged
      // instead — later rounds are no-ops and bpeTrain just emits < k rows
      val merged = vocab.join(broadcast(top), lit(true), "left")
        .select(when(col("a").isNull, col("sym"))
            .otherwise(call_function("replace", col("sym"),
              concat(lit(" "), col("a"), lit(Sep), col("b"), lit(" ")),
              concat(lit(" "), col("a"), col("b"), lit(" ")))).as("sym"),
          col("wc"))
      if (step % BpeCutEvery == 0) {
        // eager lineage cut: materializes this round's vocabulary (and
        // its `top`, which the plan consumes) as a checkpoint scan —
        // the next round's plan starts from depth 0 regardless of k
        vocab = merged.localCheckpoint()
        supersedable.foreach(_.unpersist())
        supersedable = Nil
      } else {
        vocab = merged
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        supersedable ::= vocab
      }
      onVocab(step, vocab)
      top
    }
    (steps, vocab)
  }

  /** Per-group robust z-scores (median/MAD) of a numeric column — the
    * standard outlier gate for quality metrics, where mean/stddev would
    * let the outliers define their own yardstick. z = (x − med) /
    * (1.4826·MAD) (1.4826 ≈ 1/Φ⁻¹(3/4) rescales MAD to σ under
    * normality); MAD = 0 (over half the group at the median) yields NULL
    * z and outlier=false rather than ±∞.
    *
    * Exact `percentile` is a sort-based aggregate per group — the
    * exactness gate at fixture scale; at 100 TB swap `approx_percentile`
    * in (same plan shape, the [[scoreBuckets]] note applies). Both
    * quantile passes and the final projection join the per-GROUP
    * aggregate back broadcast — group-count rows, never row-scale.
    */
  def robustZScores(rows: DataFrame, idCol: String, grpCol: String,
                    xCol: Column, zMax: Double = 3.0): DataFrame = {
    val base = rows.select(col(idCol).as("id"), col(grpCol).as("grp"),
      xCol.cast("double").as("x"))
    val med = base.groupBy(col("grp"))
      .agg(round(expr("percentile(x, 0.5)"), 6).as("med"))
    val dev = base.join(broadcast(med), Seq("grp"))
      .withColumn("adev", abs(col("x") - col("med")))
    val mad = dev.groupBy(col("grp"))
      .agg(round(expr("percentile(adev, 0.5)"), 6).as("mad"))
    dev.join(broadcast(mad), Seq("grp"))
      .withColumn("z",
        when(col("mad") === 0, lit(null).cast("double"))
          .otherwise(round((col("x") - col("med"))
            / (lit(1.4826) * col("mad")), 6)))
      .withColumn("is_outlier", coalesce(abs(col("z")) > zMax, lit(false)))
      .select(col("id"), col("grp"), col("x"), col("med"), col("mad"),
        col("z"), col("is_outlier"))
  }

  /** Per-document n-gram NOVELTY — the memorization-risk / content-freshness
    * diagnostic: of a document's distinct word n-grams, what fraction is
    * FIRST INTRODUCED by this document (its id is the minimum over all
    * documents containing the gram)? Corpora dominated by re-statement
    * (wire copy, boilerplate floods, near-dup survivors) show a novelty
    * cliff; a healthy crawl slice stays high. Complements
    * [[graft.ops.TextAnalysis]]'s boilerplate fraction (which measures
    * corpus-duplicated grams per doc regardless of who introduced them) by
    * ORDERING the attribution — the "who said it first" ledger a
    * train-on-output contamination audit needs.
    *
    * Shape: one distinct-gram stream, then two gram-keyed map-side-combined
    * aggregates — per-doc totals and per-gram min-owner (novel counts roll
    * up from the OWNER relation, never a corpus-scale join-back) — merged by
    * one doc-keyed join of doc-count relations. Linear in the gram stream,
    * no pairs, no join against the corpus; at 100 TB the gram-keyed shuffle
    * is the same inverted-index posture as the Jaccard index
    * ([[graft.ops.Dedup]]) with full map-side combine. Docs with fewer than
    * n tokens contribute no grams and are absent from the output (mirrored
    * in the oracle).
    */
  def ngramNovelty(docs: DataFrame, idCol: String, toksCol: Column,
                   n: Int): DataFrame = {
    require(n >= 1, s"n: $n")
    val grams = docs.select(col(idCol),
        explode(array_distinct(TextAnalysis.shingles(toksCol, n))).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = grams.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_grams"))
    val novel = grams.groupBy(col("gram"))
      .agg(min(col(idCol)).as(idCol))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_novel"))
    tot.join(novel, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double")
          / col("n_grams").cast("double"), 6).as("novelty"))
  }

  /** Per-group subword FERTILITY under the corpus-trained k-merge BPE —
    * the multilingual tokenizer-fairness table (fertility = subword units
    * per whitespace word; a language the merges never learned pays more
    * units — and so more context window and more compute — per word than
    * the dominant one). The cross-language companion of [[oovRate]]: OOV
    * measures vocabulary MISSES, fertility measures how EXPENSIVE the hits
    * are. Composes [[bpeSegmentStats]] (vocabulary-keyed join, trained
    * artifact reused) with the group key and three map-side-combined sums;
    * output is group-count rows. `chars_per_unit` reads mean unit length in
    * characters — the compression the merges actually bought per group.
    */
  def subwordFertility(docs: DataFrame, idCol: String, grpCol: String,
                       toksCol: Column, k: Int): DataFrame = {
    val tok = tokenStream(docs, idCol, toksCol)
    val seg = bpeSegmentStats(tok, k)
    val chars = tok.groupBy(col(idCol))
      .agg(sum(length(col("tok"))).cast("long").as("n_chars"))
    seg.join(chars, Seq(idCol))
      .join(docs.select(col(idCol), col(grpCol).as("grp")), Seq(idCol))
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        sum(col("n_units")).cast("long").as("n_units"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      .select(col("grp"), col("n_docs"), col("n_tokens"), col("n_units"),
        round(col("n_units").cast("double") / col("n_tokens").cast("double"),
          6).as("fertility"),
        round(col("n_chars").cast("double") / col("n_units").cast("double"),
          6).as("chars_per_unit"))
  }
}
