package graft

/** Global scale-posture guard over the ENTIRE gated surface: no query's
  * physical plan may contain a cartesian product or broadcast-nested-loop
  * join unless it is on the explicit allowlist below with a documented
  * reason. This is the property every "bucket join, never all-pairs"
  * claim in the operator scaladocs reduces to — checked against the real
  * optimized plans at fixture scale, so a future edit that silently
  * degenerates a join (lost equi-key, pushed-down-to-nothing condition)
  * fails here rather than at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {

  /** Fixture dir; a missing fixture fails every audit below. */
  private val sfDir = "/root/testdata/sf0.001"

  /** Queries whose returned frame is the RESULT of an eagerly-executed
    * iterative job (LogicalRDD leaf after per-round localCheckpoints):
    * their plan here is a bare scan — nothing to audit — and building
    * them would execute the full multi-round job inside a plan test.
    * Their real per-round join plans are audited directly in DedupSpec
    * ("ccRound plan stays keyed").
    */
  private val eagerlyExecuted = Set("q_dedup_clusters", "q_dedup_cc_hist")

  /** Queries whose plans legitimately contain an unkeyed join. */
  private val productAllowlist: Map[String, String] = Map(
    "q_knn_brute" -> "brute-force cosine top-k IS the documented broadcast-NLJ correctness baseline",
    "q_knn_ivf" -> "runs the brute-force baseline alongside IVF for its recall gate",
    "q_hll_merge" -> "crossJoin of two single-row aggregates (sketch estimate x exact count)",
    "q_kmeans_assign" -> "seed collection is orderBy.limit(8); assignment itself is a narrow projection",
    "q_tfidf" -> "crossJoin of the single-row corpus-size aggregate (broadcast, one row)",
    "q_unigram_lm" -> "crossJoin of the single-row corpus-token-total aggregate (broadcast, one row)",
    "q_ppl_buckets" -> "composes q_unigram_lm, inheriting its single-row token-total crossJoin; the threshold join itself is keyed on lang",
    "q_collocations" -> "crossJoins of the single-row unigram/bigram totals (broadcast, one row each)",
    "q_vocab" -> "crossJoin of the single-row token-total aggregate onto the top-k survivors",
    "q_bm25" -> "crossJoin of the single-row (n_docs, tok_total) aggregate (broadcast, one row)",
    "q_rrf_hybrid" -> "composes q_bm25 (its single-row stats crossJoin) and q_knn_brute (the documented broadcast-NLJ dense baseline); the RRF fuse itself is an equi full-outer join of two top-50 cuts",
    "q_rank_diversify" -> "composes q_knn_brute's broadcast-NLJ baseline; the diversify suppression join is rank_i<rank_j over the top-30 cut — 435 pairs regardless of corpus size (Retrieval.diversify)",
    "q_mi" -> "crossJoin of the single-row corpus-total aggregate (broadcast, one row)",
    "q_mixture" -> "crossJoin of the single-row (tok_tot, s_tot) totals aggregate (broadcast, one row — replaced the empty-partition windows, VERDICT r07 #7)",
    "q_mixture_sample" -> "composes q_mixture's recipe weights, inheriting its single-row totals crossJoin; the quota join and A-ES draw are keyed on the group column",
    "q_dsir_sample" -> "crossJoin of the single-row (qt, tt) feature-total aggregate onto the ≤1024-row bucket relation (broadcast, one row); the per-doc scoring join is keyed on the bucket",
    "q_nb_domain" -> "crossJoins of the single-row per-class feature-total and prior relations (broadcast, one row each — Classify.nbDomain); the model and scoring joins are keyed on the bucket",
    "q_pagerank_full" -> "per-iteration crossJoin of the single-row decimal-exact dangling-mass aggregate (broadcast, one row)",
    "q_cluster_purity" -> "composes Similarity.assignToSeeds, inheriting q_kmeans_assign's broadcast seed-array crossJoin (orderBy.limit(8) seeds); the label ride-along and purity aggregates are keyed",
    "q_zipf_fit" -> "composes CorpusStats.vocabCoverage, inheriting q_vocab's single-row token-total crossJoin onto the top-k survivors; the OLS fit is one global aggregate over the 100-row cut",
    "q_lsh_precision" -> "crossJoin of two single-row count aggregates (candidates x verified — the q_hll_merge pattern)",
    "q_split_balance" -> "splits × groups grid crossJoin — both sides are post-aggregation count relations, ≤ splits·groups rows at any corpus size; absent cells must exist in the grid to report a vanished group's full-share drift",
    "q_lsh_recall" -> "crossJoin of two single-row count aggregates (exact x caught — the q_lsh_precision pattern)",
    "q_rank_overlap" -> "composes q_knn_brute's documented broadcast-NLJ dense baseline and q_bm25's single-row stats crossJoin (the q_rrf_hybrid legs); the agreement aggregate itself is a full-outer join of two top-50 cuts",
    "q_embed_variance" -> "crossJoin of the single-row total-variance aggregate onto the d-row spectrum (broadcast, one row)",
    "q_pca_power" -> "crossJoins of the single-row iterate-norm aggregates onto the d-row vector (broadcast, one row per power step); the Gram build is a vec_id-keyed self-join and the iteration runs on the d^2-bounded matrix relation",
    "q_effective_rank" -> "inherits q_embed_variance's single-row total crossJoin via the shared dimensionVariance relation",
    "q_token_budget" -> "composes q_mixture's recipe weights, inheriting its single-row totals crossJoin; the budget arithmetic itself is a narrow projection of the group-count relation",
    "q_shard_skew" -> "crossJoin of the single-row total-weight aggregate onto the N-row shard relation (broadcast, one row)",
    "q_semdedup_rate" -> "per-threshold crossJoin of the single-row corpus-count aggregate onto the single-row pair/removal aggregate (broadcast, one row each; the pair relation itself is q_semdedup's keyed cell join)",
    "q_dsir_ess" -> "inherits q_dsir_sample's single-row feature-total crossJoin and adds the single-row max-log-ratio normalizer crossJoin (broadcast, one row each)",
    "q_bpe_compression" -> "per-step chains inherit bpeVocab's one-row merge attach (LEFT JOIN ON TRUE against the broadcast single-row winning pair — the exhausted-merge pass-through, see CorpusStats.bpeRounds); steps whose final round is past the last lineage cut keep that join in-plan",
    "q_skew_advisor" -> "crossJoin of the single-row (total, n_keys) aggregate onto the per-key count relation (broadcast, one row — the q_tfidf scalar pattern)",
    "q_pq_codes" -> "crossJoin of the single-row broadcast codebook array (orderBy.limit(16) seeds folded to one row — the assignToSeeds physical shape); assignment is a narrow per-row argmin",
    "q_pq_adc" -> "inherits q_pq_codes' single-row broadcast codebook crossJoin on both the codes and LUT sides; the ADC scan itself is the keyed (sub, code) equi-join and the ground-truth attach is two id equi-joins",
    "q_join_estimate" -> "crossJoins of three single-row aggregates (side stats x side stats x actual join count — the q_hll_merge pattern)",
    "q_ivfpq" -> "inherits the single-row broadcast codebook crossJoin (q_pq_codes pattern) and the single-row broadcast seed-array crossJoin (q_kmeans_assign pattern); routing, candidate, and LUT joins are all keyed (cell / (probe, sub, code))",
    "q_ann_recall" -> "composes q_knn_brute's documented broadcast-NLJ truth baseline (the recall curve needs exact ground truth); the LSH leg and the cut join are keyed",
    "q_hard_negatives" -> "inherits q_bm25's single-row stats crossJoin and adds the single-row positive (pos_id, pos_sh) crossJoin onto the 19-row negative cut (broadcast, one row)",
    "q_source_centroid" -> "crossJoin of the single-row global-centroid array onto the group-count centroid relation (broadcast, one row — the q_embed_variance pattern)",
    "q_rfm" -> "crossJoin of the single-row max-orderdate aggregate onto the customer-count RFM relation (broadcast, one row)",
    "q_basket_lift" -> "crossJoin of the single-row order-count aggregate onto the frequent-pair relation (broadcast, one row — the q_tfidf scalar pattern); the pair and per-part joins are keyed",
    "q_ks_drift" -> "crossJoins of the single-row sample-total aggregate onto the distinct-length cum relation and the single-row source-name pivot onto the 1-row result (broadcast, one row each — the q_hll_merge pattern); the source tag join is keyed and broadcast",
    "q_maxsim" -> "broadcast 8-row query-set crossJoin — the documented q_knn_brute late-interaction scan posture; at scale the candidate side is an IVF/LSH shortlist, the kernel unchanged",
    "q_psi_drift" -> "crossJoin of the single-row source-name pivot onto the 1-row PSI result (broadcast, one row — the q_ks_drift pattern); the source tag join is keyed and broadcast",
    "q_emd_drift" -> "crossJoins of the single-row sample-total aggregate onto the jump-point cum relation and the single-row source-name pivot onto the 1-row result (broadcast, one row each — the q_ks_drift pattern); the source tag join is keyed and broadcast",
    "q_mannwhitney" -> "crossJoin of the single-row source-name pivot onto the 1-row stats result (broadcast, one row — the q_ks_drift pattern); rank sums need no total-side join at all",
    "q_cluster_elbow" -> "three q_kmeans_assign legs, each inheriting the broadcast seed-array crossJoin (orderBy.limit(k) seeds, k <= 8); the winning-cosine attach is a keyed join to the k-row seeds",
    "q_cuped" -> "crossJoin of the single-row pooled CUPED moments (θ, x̄, centered SS) onto the per-user relation (broadcast, one row — the q_mi scalar pattern); the per-user metric aggregate is keyed",
    "q_null_semantics" -> "crossJoin of two single-row aggregates (base NULL-rule stats x group-semantics stats — the q_hll_merge pattern)",
    "q_nb_calibration" -> "composes Classify.nbDomain, inheriting q_nb_domain's single-row per-class feature-total and prior crossJoins (broadcast, one row each); the margin-bucket rollup itself is one keyed aggregate",
    "q_log_odds" -> "crossJoin of the single-row corpus-token-total aggregate (broadcast, one row — the q_tfidf scalar pattern); counts, marginals, and the top-k window are keyed",
    "q_chisq_feature" -> "crossJoin of the single-row corpus-doc-total aggregate (broadcast, one row — the q_log_odds scalar pattern); presence counts, marginals, and the top-k window are keyed",
    "q_eb_shrinkage" -> "crossJoin of the single-row method-of-moments prior aggregate (broadcast, one row — the q_mi scalar pattern); the per-part rate relation is one keyed aggregate",
    "q_markov_stationary" -> "crossJoin of the single-row state-count aggregate onto the ≤|types|-row state relation (broadcast, one row); the matrix build is one keyed aggregate and the iteration runs on the |types|^2 relation",
    "q_modularity" -> "crossJoin of the single-row global edge-count aggregate onto the ≤|brands|-row community relation (broadcast, one row); edge labeling and all counts are keyed joins/aggregates",
    "q_theil_sen" -> "inequality self-join of the ≤|months|-row aggregated series (|months|^2-bounded pair grid — the estimator's definition) plus the 1-row month-count crossJoin; the data-scale work is the one monthly aggregate",
    "q_did" -> "crossJoin of the single-row midpoint-week aggregate onto the filtered events (broadcast, one row — the q_mi scalar pattern); the cell aggregate is keyed",
    "q_mase" -> "crossJoin of the single-row hour-span aggregate onto the ≤|types|-row type relation (broadcast, one row — the q_fano dense-span pattern); the dense-series join and windows are keyed",
    "q_mk_trend" -> "same ≤|months|-row inequality pair grid as q_theil_sen plus the 1-row month-count crossJoin; S accumulates over the bounded grid only",
    "q_theil" -> "crossJoins of the single-row global (n, total) aggregate onto the per-customer and <=25-row nation relations, and of the two 1-row Theil sums onto the final row (the q_hll_merge pattern); the per-customer aggregate and the dim join are keyed/broadcast",
    "q_cramers_v" -> "marginal x marginal grid crossJoin (<= r*c rows at any corpus size — the q_split_balance pattern: absent cells must contribute their expectation) plus 1-row totals/chi2 crossJoins; the cell aggregate is keyed",
    "q_hill_tail" -> "crossJoin of the 1-row (k+1)-th order-statistic reference onto the 100-row top cut (broadcast, one row — the q_tfidf scalar pattern); the cut itself is a TakeOrdered",
    "q_transition_entropy" -> "crossJoins of the single-row transition total onto the <=types^2 cell relation and of the two 1-row entropy sums onto the final row (the q_hll_merge pattern); cells and marginals are keyed aggregates",
    "q_fano" -> "crossJoin of the single-row hour-span aggregate onto the per-type moment relation (broadcast, one row — the q_tfidf scalar pattern); the bucket and moment aggregates are keyed",
    "q_kendall_tau" -> "same <=|months|-row inequality pair grid as q_theil_sen/q_mk_trend (the tau estimator's definition); the data-scale work is the one monthly aggregate",
    "q_hits" -> "per-iteration crossJoin of the single-row L1-normalization total (broadcast, one row — the q_pagerank_full pattern); the propagation joins/aggregates are keyed on the node",
    "q_kaplan_meier" -> "crossJoins of the single-row study-end and population-total aggregates (broadcast, one row each — the q_mi scalar pattern); the per-user aggregate is keyed and the KM table is span-bounded",
    "q_ndcg" -> "composes q_knn_brute's documented broadcast-NLJ exact baseline (the ranking under eval); the label joins, DCG aggregate, and ideal-prefix explode are keyed",
    "q_isotonic" -> "the PAV minimax solve's inequality joins over the 11-bin relation (|bins|^2 interval grid, |bins|^3 candidate rows at any corpus size); the data-scale work is the one binned aggregate",
    "q_ewma" -> "crossJoin of the single-row hour-span aggregate onto the <=|types|-row type relation (the q_mase dense-span pattern); the contribution fan-out and moment aggregates are keyed",
    "q_jackknife" -> "crossJoins of the single-row group-totals and pseudo-value-mean aggregates onto the <=25-row nation relation (broadcast, one row each — the q_mi scalar pattern); the per-nation aggregate and dim join are keyed",
    "q_logrank" -> "crossJoins of the single-row study-end and cohort-total aggregates (broadcast, one row each — the q_kaplan_meier pattern); the per-user aggregate is keyed and the lifetime table is span-bounded",
    "q_quantile_sweep" -> "crossJoin of the single-row exact-p99 order-statistic aggregate onto the single-row approx-sketch aggregate (broadcast, one row each — the q_hll_merge pattern); the exact leg is the Ranks.globalRank range-partitioned kernel, never a value-map aggregate")

  /** What the three audits below read from one query's executed plan. */
  private case class PlanFacts(
      unkeyedJoins: Seq[String], nodeCount: Int, wideLineitemScans: Seq[Int])

  /** Every gated query's executed plan, built ONCE per spec run and
    * reduced to the facts each audit checks. */
  private lazy val planFacts: Seq[(String, PlanFacts)] = {
    requireFixtures(sfDir)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => eagerlyExecuted(name) }
      .map { case (name, fn) =>
        // collectPlanNodes, NOT plan.collect: AdaptiveSparkPlanExec is a
        // leaf to TreeNode.collect, which silently finds zero scans under AQE
        // (review r04 — the vacuous-guard failure mode)
        val nodes = collectPlanNodes(fn(spark, sfDir).queryExecution.executedPlan)
        val unkeyed = nodes.map(_.nodeName).filter(n =>
          n.contains("CartesianProduct") || n.contains("BroadcastNestedLoopJoin"))
        val wide = nodes.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths
                .exists(_.toString.contains("lineitem")) &&
                f.requiredSchema.size > 8 => f.requiredSchema.size
        }
        name -> PlanFacts(unkeyed.distinct, nodes.size, wide)
      }
  }

  /** An allowlist or bound that names no registered query pins nothing. */
  private def assertNamesExist(list: String, names: Iterable[String]): Unit =
    names.foreach(n => assert(SparkEntry.queries.contains(n),
      s"$list names a missing query: $n"))

  test("no gated query plans a cartesian/broadcast-nested-loop join off-allowlist") {
    assertNamesExist("productAllowlist", productAllowlist.keys)
    assertNamesExist("eagerlyExecuted", eagerlyExecuted)
    val offenders = planFacts.collect {
      case (name, f) if f.unkeyedJoins.nonEmpty &&
          !productAllowlist.contains(name) => name -> f.unkeyedJoins
    }
    assert(offenders.isEmpty,
      s"unkeyed joins outside the allowlist: $offenders")
  }

  /** Plan-size regression gate (VERDICT r16 #4): recorded physical node
    * counts for the 10 largest gated plans (census at sf0.001, r17:
    * 130/94/85/84/78/77/76/71/68/68), with ~25 % headroom so routine
    * optimizer drift passes but a lineage deepening — the r15 310k-char
    * plan-string class, or an iterative operator losing its checkpoint
    * cadence — fails a test instead of a sweep. Every OTHER query gets the
    * global ceiling: the 11th-largest plan is 66 nodes, so 100 catches any
    * quiet ballooning while staying far from noise. A failure prints the
    * current census of the 10 largest plans, which is what re-pinning a
    * bound reads.
    */
  private val nodeBounds: Map[String, Int] = Map(
    "q_band_sweep" -> 165, "q_pca_power" -> 120, "q_domain_kl" -> 110,
    "q_kcore" -> 110, "q_emd_drift" -> 100, "q_ks_drift" -> 100,
    "q_curate_funnel" -> 100, "q_dup_quality_bias" -> 92,
    "q_autocorr" -> 88, "q_profile" -> 88)
  private val globalNodeCeiling = 100

  test("no gated plan exceeds its recorded node-count bound") {
    assertNamesExist("nodeBounds", nodeBounds.keys)
    val over = planFacts.flatMap { case (name, f) =>
      val bound = nodeBounds.getOrElse(name, globalNodeCeiling)
      if (f.nodeCount > bound) Some((name, f.nodeCount, bound)) else None
    }
    val census = planFacts.map { case (name, f) => name -> f.nodeCount }
      .sortBy { case (name, n) => (-n, name) }.take(10)
      .map { case (name, n) => s"$name $n" }.mkString(", ")
    assert(over.isEmpty,
      s"plans past their node bound (query, nodes, bound): $over — if the " +
        "growth is intended, re-pin the bound from the 10 largest plans " +
        s"(query nodes): $census")
  }

  test("every fact-table query keeps scan-level column pruning (no SELECT *)") {
    // lineitem has 16 columns; no gated query needs more than 8 of them —
    // a scan reading the full schema means a projection stopped reaching
    // the parquet reader
    val wide = planFacts.collect {
      case (name, f) if f.wideLineitemScans.nonEmpty =>
        name -> f.wideLineitemScans
    }
    assert(wide.isEmpty, s"lineitem scans reading >8 columns: $wide")
  }

  test("the word-count queries count on the fused map side; the per-language one does not") {
    requireFixtures(sfDir)
    Seq("wc_words" -> true, "wc_topk" -> true, "wc_per_lang" -> false).foreach {
      case (name, fused) =>
        assert(fusedMapSide(SparkEntry.queries(name)(spark, sfDir)) === fused, name)
    }
  }
}
