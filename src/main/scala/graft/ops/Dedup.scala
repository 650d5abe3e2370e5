package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashes

/** Deduplication for document corpora at scale.
  *
  * Three tiers, composable:
  *  1. exact       — group by content fingerprint (one shuffle on a 60-bit
  *                   key; shuffle volume = #distinct docs, not bytes).
  *  2. near (LSH)  — MinHash over shingle sets, banded into buckets; the
  *                   candidate generator is a *bucket self-join* (shuffle on
  *                   band hash), never an all-pairs product. All-pairs at
  *                   100 TB is ~10¹⁸ comparisons; LSH is linear in corpus
  *                   size for fixed bucket occupancy.
  *  3. verify      — exact n-gram Jaccard only on LSH candidates.
  *
  * MinHash math: P[band match] = 1-(1-j^r)^b for true Jaccard j. Defaults
  * (k=30, b=10, r=3) put the S-curve threshold at ~(1/10)^(1/3) ≈ 0.46:
  * j=0.9 pairs are missed with p≈2e-6, j=0.2 pairs bucket with p≈0.08.
  * Tune b·r=k per corpus; thresholds ≥0.8 with r=3 keep candidates sparse.
  */
object Dedup {

  /** Exact-duplicate clustering on a pre-computed fingerprint column:
    * one row per distinct fingerprint with the keeper (min id), copy count,
    * and the member ids. Deterministic for any partitioning.
    */
  def exactClusters(df: DataFrame, idCol: String, fpCol: String): DataFrame =
    df.groupBy(col(fpCol))
      .agg(
        min(col(idCol)).as("keeper"),
        count(lit(1)).as("n_copies"),
        sort_array(collect_list(col(idCol))).as("members"))

  /** MinHash signature (length k) of a shingle-set column. Per-row, narrow,
    * one md5 per shingle + k affine permutations in a single generated loop
    * (native [[graft.expr.MinHashSig]]; the earlier seeded-md5-per-permutation
    * form cost k md5 calls per shingle — 30× the hashing — because Catalyst
    * does not CSE the inner hash across lambda bodies). NULL when the
    * shingle set is empty (caller filters).
    */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    minhashSignatureFromHashes(transform(shingleSet, s => Hashes.h60(s)), k)

  /** [[minhashSignature]] over an already-hashed `array<long>` shingle set —
    * the form the pipeline uses so the md5 pass happens exactly once.
    */
  def minhashSignatureFromHashes(shingleHashes: Column, k: Int): Column =
    call_function("minhash_sig", shingleHashes, lit(k))

  /** MinHash Jaccard ESTIMATE implied by two k-component signatures: the
    * fraction of agreeing components (Broder, "On the resemblance and
    * containment of documents", 1997: each min-wise component agrees with
    * probability exactly J, so the mean of k indicators is an unbiased
    * estimator with SE √(J(1−J)/k)). Pairing this with the exact Jaccard
    * is the sketch-quality audit behind the banded-LSH recall claims
    * (q_minhash_acc). Narrow zip_with + size over two k-element arrays —
    * no shuffle; rounded to 6 (k divides 10⁶ concerns don't arise: the
    * raw ratio has ≤ log10(k)+1 significant digits, rounding is identity
    * up to float rendering, kept for oracle portability).
    */
  def minhashEstimate(sigA: Column, sigB: Column, k: Int): Column =
    round(size(filter(zip_with(sigA, sigB, (x, y) => x === y),
      b => b)).cast("double") / k, 6)

  /** Per-doc 60-bit shingle-hash set: the compact relation the near-dup
    * pipeline shuffles instead of the raw shingle strings (8 bytes/shingle
    * vs tens; Jaccard on the hash sets equals Jaccard on the string sets
    * barring 60-bit collisions — ~n²·2⁻⁶¹ per doc pair, negligible).
    */
  def hashedShingles(docs: DataFrame, idCol: String, shingleCol: String): DataFrame =
    docs.where(size(col(shingleCol)) > 0)
      .select(col(idCol).as("id"),
        transform(col(shingleCol), s => Hashes.h60(s)).as("hs"))

  /** Distinct n-gram hash set of a token array, skipping n-gram string
    * construction entirely: one md5 per token, then the native
    * [[graft.expr.NgramHashes]] position-weighted combination per window.
    * Profiling at sf0.1 (per-stage times, the read `graft.tools.QueryProfile`
    * gives on the near-dup queries): building shingle STRINGS
    * (`concat_ws` per window) cost ~2× the md5 pass itself — this path
    * removes it while keeping the same set semantics.
    */
  def ngramHashSet(toks: Column, n: Int): Column =
    array_distinct(call_function("ngram_hashes",
      transform(toks, t => Hashes.h60(t)), lit(n)))

  /** (id, hs) relation of [[ngramHashSet]] rows with ≥1 n-gram. */
  def hashedNgrams(docs: DataFrame, idCol: String, toksCol: String,
                   n: Int): DataFrame =
    docs.select(col(idCol).as("id"), ngramHashSet(col(toksCol), n).as("hs"))
      .where(size(col("hs")) > 0)

  /** Winnowed fingerprint set (Schleimer/Wilkerson/Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS algorithm; value-distinct variant): over the positional n-gram
    * hash stream, slide a window of `w` consecutive hashes and keep each
    * window's MINIMUM; the fingerprint set is the distinct minima.
    *
    * Guarantee (the paper's correctness property): any verbatim token
    * run of length ≥ n + w − 1 shared by two documents fully contains
    * some hash window in both, so they share at least one fingerprint —
    * while the expected fingerprint density drops to ~2/(w+1) of the
    * full n-gram index (the winnowing density bound). This is the
    * sublinear-index counterpart of [[substrDupRuns]]' exhaustive
    * positional index: same detection floor, a w/2-fold smaller index to
    * shuffle at corpus scale.
    *
    * Narrow per-row computation (hash + the native
    * [[graft.expr.WinnowMins]] windowed-min-distinct, one generated loop
    * — no shuffle, no HOF interpretation tax); docs with fewer than
    * n + w − 1 tokens fingerprint to the empty set. Output is the
    * ASC-sorted distinct minima (canonical set order across engines).
    */
  def winnowedFingerprints(toks: Column, n: Int, w: Int): Column = {
    require(n >= 1, s"n: $n")
    require(w >= 1, s"w: $w")
    call_function("winnow_mins",
      call_function("ngram_hashes", transform(toks, t => Hashes.h60(t)), lit(n)),
      lit(w))
  }

  /** MinHash SIGNATURE-BUDGET sweep: the estimator-error curve over
    * signature length. For each k in `ks`, the k-PREFIX of the standing
    * k_max signature (the affine family is ordered, so component j is the
    * same hash at every budget — shorter signatures are literal prefixes)
    * re-estimates Jaccard on every verified ≥`threshold` pair; emitted
    * per k: pair count, mean and max |estimate − exact|. The
    * √(J(1−J)/k) error bound ([[minhashEstimate]]) made measurable — the
    * table that prices signature bytes against dedup-threshold confusion
    * before a 100 TB run fixes k. One pair relation (banded + verified,
    * never all-pairs), each budget one narrow aggregate over it.
    */
  def minhashErrorSweep(hashed0: DataFrame, ks: Seq[Int],
                        threshold: Double): DataFrame = {
    require(ks.nonEmpty, "ks must be non-empty")
    val kMax = ks.max
    val hashed = hashed0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = verifiedNearDupsFromHashes(hashed, threshold,
      persistHashed = false)
    val sigs = hashed.select(col("id"),
      minhashSignatureFromHashes(col("hs"), kMax).as("sig"))
    val joined = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ks.sorted.map { k =>
      joined.select(round(abs(
          minhashEstimate(slice(col("sig_a"), 1, k),
            slice(col("sig_b"), 1, k), k) - col("jaccard")), 6)
          .as("abs_err"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          round(sum(col("abs_err").cast("decimal(28,6)")).cast("double")
            / count(lit(1)), 6).as("mean_abs_err"),
          max(col("abs_err")).as("max_abs_err"))
        .select(lit(k).as("k"), col("n_pairs"), col("mean_abs_err"),
          col("max_abs_err"))
    }.reduce(_ unionByName _)
  }

  /** Per-benchmark-item contamination COVERAGE — the eval-integrity
    * severity number [[contaminationPairs]] doesn't give: for each bench
    * doc, the share of its distinct n-grams that appear in at least
    * `minDf` (and at most `maxTrainDf`) training documents. Pairs say
    * WHICH train docs leak; coverage says how much of each benchmark item
    * is compromised — the number that decides drop-vs-keep per eval item.
    * With a bench set carved out of the train corpus itself (the fixture
    * setup), `minDf = 2` reads "leaked beyond its own source"; for a
    * disjoint bench set use `minDf = 1`.
    *
    * Shape: one gram-keyed df aggregate over the exploded train relation
    * (map-side combined), the leaky-gram cut semi-joins the exploded
    * bench grams (bench-scale, not corpus-scale), and totals come from
    * `size(hs)` without re-exploding. Bench docs with zero covered grams
    * survive via the left join.
    */
  def contaminationCoverage(trainHashed: DataFrame, benchHashed: DataFrame,
                            minDf: Int, maxTrainDf: Int): DataFrame = {
    require(minDf >= 1, s"minDf: $minDf")
    require(maxTrainDf >= minDf, s"maxTrainDf($maxTrainDf) < minDf($minDf)")
    val leaky = trainHashed.select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf && col("df") <= maxTrainDf)
      .select(col("h"))
    val cov = benchHashed
      .select(col("id").as("bench_id"), explode(col("hs")).as("h"))
      .join(leaky, Seq("h"), "left_semi")
      .groupBy(col("bench_id"))
      .agg(count(lit(1)).cast("long").as("n_covered"))
    benchHashed
      .select(col("id").as("bench_id"), size(col("hs")).cast("long").as("n_grams"))
      .join(cov, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_grams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        round(coalesce(col("n_covered"), lit(0L)).cast("double")
          / col("n_grams").cast("double"), 6).as("coverage"))
  }

  /** LSH banding DESIGN SWEEP: for each (bands, rows-per-band) config of
    * the same k-component signature, the candidate volume, the exactly
    * verified count at `threshold`, and precision — the S-curve table
    * that picks a banding before a corpus-scale dedup commits to one.
    * Per config ONE pass: the banded candidate relation feeds a single
    * count/verify aggregate (the candidates are NOT re-derived for the
    * verify leg — both counts fall out of the same joined scan), so the
    * sweep costs ~half of running [[candidatePairsFromHashes]] and
    * [[verifiedNearDupsFromHashes]] separately per config. The k-component
    * signature relation is computed ONCE and persisted inside (every
    * config reads it — without the share the signature pass ran once per
    * config). Callers persist `hashed` (it feeds the signature branch and
    * both verify-join sides per config).
    */
  def bandSweep(hashed: DataFrame, k: Int, configs: Seq[(Int, Int)],
                threshold: Double): DataFrame = {
    require(configs.nonEmpty, "configs must be non-empty")
    // ONE signature relation for the whole sweep (VERDICT r18 next #3):
    // every (b, r) config reads the same k-component signature, so the
    // k-hash-per-shingle signature pass — the dominant per-row cost —
    // ran once per config before and runs ONCE total now. Per-config
    // band buckets stay persisted too: banding is b md5 hashes per row
    // (not free), and the self-join reads the bucket relation from both
    // sides — A/B at sf0.1 showed recomputing it per side costs more
    // than the bucket cache saves. Caller-managed cache lifetime
    // (Verify/Bench clear per query).
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sigs = hashed
      .select(col("id"), minhashSignatureFromHashes(col("hs"), k).as("sig"))
      .persist(lvl)
    configs.map { case (b, r) =>
      require(b * r <= k, s"bands($b)×rows($r) exceed signature length $k")
      val buckets = sigs.select(col("id"),
          posexplode(bandHashes(col("sig"), b, r)).as(Seq("band", "bh")))
        .persist(lvl)
      buckets.select(col("band"), col("bh"), col("id").as("id_a"))
        .join(buckets.select(col("band"), col("bh"), col("id").as("id_b")),
          Seq("band", "bh"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .distinct()
        .join(hashed.select(col("id").as("id_a"), col("hs").as("hs_a")),
          Seq("id_a"))
        .join(hashed.select(col("id").as("id_b"), col("hs").as("hs_b")),
          Seq("id_b"))
        .select(jaccardCol(col("hs_a"), col("hs_b")).as("j"))
        .agg(count(lit(1)).cast("long").as("n_candidates"),
          sum(when(col("j") >= threshold, 1L).otherwise(0L)).cast("long")
            .as("n_verified"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("n_candidates"), col("n_verified"),
          round(col("n_verified").cast("double") / col("n_candidates"), 6)
            .as("precision"))
    }.reduce(_ unionByName _)
  }

  /** Winnowing DENSITY audit: the measured fingerprint-per-position rate
    * against the paper's expected density 2/(w+1) (Schleimer et al. 2003,
    * §5 — the bound [[winnowedFingerprints]]' index-size claims rest on).
    * A corpus whose measured density sits far ABOVE the bound (e.g.
    * shuffled-unique content where every window min is fresh) pays a
    * proportionally bigger index; far below flags degenerate token
    * streams (constant runs collapse to one min). One narrow map pass
    * (hash + positional n-grams + windowed min, all native) folded to a
    * single summary row — nothing shuffles but the final aggregate.
    * Docs shorter than n tokens have no positions and are excluded from
    * both sums; docs with < w positions contribute positions but no
    * fingerprints (the [[graft.expr.WinnowMins]] empty-set contract).
    */
  def winnowDensity(docs: DataFrame, toksCol: Column, n: Int,
                    w: Int): DataFrame = {
    require(n >= 1, s"n: $n")
    require(w >= 1, s"w: $w")
    val pos = call_function("ngram_hashes",
      transform(toksCol, t => Hashes.h60(t)), lit(n))
    docs.select(pos.as("pos"))
      .where(size(col("pos")) > 0)
      .select(size(col("pos")).cast("long").as("n_pos"),
        size(call_function("winnow_mins", col("pos"), lit(w)))
          .cast("long").as("n_fp"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_pos")).cast("long").as("n_positions"),
        sum(col("n_fp")).cast("long").as("n_fingerprints"))
      .select(col("n_docs"), col("n_positions"), col("n_fingerprints"),
        round(col("n_fingerprints").cast("double")
          / col("n_positions").cast("double"), 6).as("density"),
        round(lit(2.0 / (w + 1)), 6).as("density_bound"))
  }

  /** Near-verbatim candidate pairs on shared winnowed fingerprints: docs
    * sharing ≥ `minShared` distinct fingerprints, with the same df cap —
    * for the same boilerplate/skew reasons — as [[contaminationPairs]].
    * Because [[winnowedFingerprints]] is distinct per doc, the join's
    * group count IS the distinct shared-fingerprint count. The exploded
    * index feeds three plan branches (df aggregate + both join sides);
    * `persistIndex` materializes it once (caller-managed lifetime, the
    * repo's per-query contract).
    */
  def winnowPairs(docs: DataFrame, idCol: String, toksCol: Column,
                  n: Int, w: Int, minShared: Int, maxDf: Int,
                  persistIndex: Boolean = true): DataFrame = {
    require(minShared >= 1, s"minShared: $minShared")
    require(maxDf >= 1, s"maxDf: $maxDf")
    val f0 = docs.select(col(idCol).as("id"),
      explode(winnowedFingerprints(toksCol, n, w)).as("fp"))
    val f =
      if (persistIndex)
        f0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else f0
    val keep = f.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("fp"))
    val idx = f.join(keep, Seq("fp"))
    idx.select(col("fp"), col("id").as("id_a"))
      .join(idx.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Band hashes for LSH: b hashes, each over r consecutive signature slots.
    * Equal band hash ⇒ the r minhashes agree ⇒ candidate pair.
    */
  def bandHashes(sig: Column, b: Int, r: Int): Column =
    transform(
      sequence(lit(0), lit(b - 1)),
      j => Hashes.h60(concat_ws(",",
        transform(slice(sig, j * r + 1, lit(r)), _.cast("string")))))

  /** round(|a∩b| / |a∪b|, 6) over two hash-set columns — THE verify
    * expression every MinHash-family near-dup path shares (batch self-join
    * and incremental); one definition so a rounding/threshold change can't
    * diverge between them.
    */
  private def jaccardCol(a: Column, b: Column): Column =
    round(size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)), 6)

  /** (idOut, band, bh) band-bucket relation of a hashed (`id`, `hs`)
    * relation — the shared candidate-generation projection.
    */
  private def bandBuckets(hashed: DataFrame, idOut: String,
                          k: Int, b: Int, r: Int): DataFrame =
    hashed.select(col("id"),
        minhashSignatureFromHashes(col("hs"), k).as("sig"))
      .select(col("id").as(idOut),
        posexplode(bandHashes(col("sig"), b, r)).as(Seq("band", "bh")))

  /** LSH candidate pairs from a [[hashedShingles]] relation: minhash the
    * hash sets, explode band hashes, self-join per (band index, band hash)
    * bucket, keep a<b, distinct. The join is hash-partitioned on the band
    * key — the scale path.
    *
    * The bucket relation feeds BOTH self-join sides, and the alias rename
    * (`id_a` vs `id_b`) below the exchange defeats ReuseExchange — so
    * without a persist the k-component MinHash signature pass (k hash
    * evaluations per shingle, the dominant per-row cost) runs TWICE.
    * QueryProfile (sf0.1, q_dedup_cc_hist): two ~32-task stages of 16.1 s
    * and 12.2 s executor time computing the identical signatures.
    * `persist` materializes signatures+bands once — at cluster scale this
    * relation IS the standing LSH index a production pipeline stores
    * (same artifact as the [[incrementalNearDups]] corpus side); same
    * caller-managed cache lifetime as [[verifiedNearDupsFromHashes]].
    */
  def candidatePairsFromHashes(hashed: DataFrame,
                               k: Int = 30, b: Int = 10, r: Int = 3,
                               persistBuckets: Boolean = true): DataFrame = {
    require(b * r <= k, s"bands($b)×rows($r) exceed signature length $k")
    val buckets0 = bandBuckets(hashed, "id", k, b, r)
    val buckets =
      if (persistBuckets)
        buckets0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else buckets0
    val a = buckets.select(col("band"), col("bh"), col("id").as("id_a"))
    val bb = buckets.select(col("band"), col("bh"), col("id").as("id_b"))
    a.join(bb, Seq("band", "bh"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** String-shingle convenience form of [[candidatePairsFromHashes]]. */
  def candidatePairs(docs: DataFrame, idCol: String, shingleCol: String,
                     k: Int = 30, b: Int = 10, r: Int = 3): DataFrame =
    candidatePairsFromHashes(hashedShingles(docs, idCol, shingleCol), k, b, r)

  /** Exact Jaccard verification of LSH candidates over a hashed-shingle
    * relation; keeps pairs with similarity ≥ threshold.
    *
    * The hashed relation feeds FOUR plan branches (both bucket-join sides,
    * both verify-join sides); Catalyst re-executes a narrow pipeline per
    * branch, so the tokenize+hash work would run 4× (measured: it dominated
    * the query). `persist()` materializes it once — the same
    * cache-the-signatures move MLlib's approxSimilarityJoin makes, and at
    * cluster scale the same role a checkpoint of the signature table plays.
    * The cache entry is keyed by the plan, so repeated runs reuse it;
    * callers doing one-shot batch work can `spark.catalog.clearCache()`.
    */
  def verifiedNearDupsFromHashes(hashed0: DataFrame, threshold: Double,
                                 k: Int = 30, b: Int = 10, r: Int = 3,
                                 persistHashed: Boolean = true): DataFrame = {
    val hashed =
      if (persistHashed)
        hashed0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else hashed0
    candidatePairsFromHashes(hashed, k, b, r)
      .join(hashed.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardCol(col("hs_a"), col("hs_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** String-shingle convenience form of [[verifiedNearDupsFromHashes]]. */
  def verifiedNearDups(docs: DataFrame, idCol: String, shingleCol: String,
                       threshold: Double,
                       k: Int = 30, b: Int = 10, r: Int = 3): DataFrame =
    verifiedNearDupsFromHashes(
      hashedShingles(docs, idCol, shingleCol), threshold, k, b, r)

  /** Incremental near-dup: near-duplicates of a NEW document batch
    * against an EXISTING corpus — the ingestion-time form of
    * [[verifiedNearDupsFromHashes]]: a production pipeline doesn't
    * re-self-join the whole corpus per batch, it checks the delta against
    * the standing signature table. Same MinHash banding, but the bucket
    * join is new×corpus (asymmetric, no `a<b` constraint) and returns
    * (new_id, corpus_id, jaccard).
    *
    * Scale posture: the corpus-side signature/band relation is the
    * persistent artifact (computed once per snapshot, extended per batch
    * — here recomputed from `corpusHashed` because the gate has no state
    * between runs); the new side is a small batch, so Catalyst broadcasts
    * its band relation into the bucket join and the whole check touches
    * only colliding corpus buckets, never the corpus itself.
    */
  def incrementalNearDups(corpusHashed0: DataFrame, newHashed0: DataFrame,
                          threshold: Double,
                          k: Int = 30, b: Int = 10, r: Int = 3,
                          persistHashed: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold: $threshold")
    require(b * r <= k, s"bands($b)×rows($r) exceed signature length $k")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // both relations feed two branches (bucket join + verify join) — same
    // caller-managed persist contract as verifiedNearDupsFromHashes
    val corpusHashed = if (persistHashed) corpusHashed0.persist(lvl) else corpusHashed0
    val newHashed = if (persistHashed) newHashed0.persist(lvl) else newHashed0
    val cand = bandBuckets(newHashed, "new_id", k, b, r)
      .join(bandBuckets(corpusHashed, "corpus_id", k, b, r), Seq("band", "bh"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()
    cand
      .join(newHashed.select(col("id").as("new_id"), col("hs").as("hs_n")),
        Seq("new_id"))
      .join(corpusHashed.select(col("id").as("corpus_id"), col("hs").as("hs_c")),
        Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        jaccardCol(col("hs_n"), col("hs_c")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** EXACT n-gram Jaccard near-duplicate pairs via an inverted index on
    * the n-gram hash — the third near-dup family next to MinHash
    * (probabilistic recall) and SimHash (Hamming ball): candidate pairs
    * are docs sharing ≥1 indexed n-gram, the shared-set size is the join's
    * group count, and the union size follows arithmetically
    * (|A∪B| = |A|+|B|−|A∩B|) — so the verify step is pure column math,
    * no array intersect/union work and no second join back to the sets.
    *
    * Scale/exactness contract: with `maxDf` = ∞ recall is 1 by
    * construction (any pair with jaccard > 0 shares an n-gram and is
    * generated), but a boilerplate n-gram with document frequency df fans
    * out df²/2 candidate rows, so at scale ubiquitous n-grams must leave
    * the index — the same df cap, for the same two reasons, as
    * [[contaminationPairs]]. Under a cap the reported jaccard counts only
    * indexed shared n-grams over the FULL union — a deterministic lower
    * bound of true Jaccard (equal whenever no shared n-gram was capped);
    * a pair is missed only when its entire overlap is corpus-boilerplate,
    * i.e. the docs are near-dups of a template, not of each other.
    *
    * Input is a [[hashedNgrams]]-shaped relation (`id`, `hs` distinct).
    * The exploded index feeds three plan branches (df aggregate + both
    * join sides); `persistIndex` materializes it once — caller-managed
    * lifetime, same contract as [[verifiedNearDupsFromHashes]].
    */
  def jaccardNearDups(hashed: DataFrame, threshold: Double,
                      maxDf: Int = Int.MaxValue,
                      persistIndex: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold: $threshold")
    require(maxDf >= 1, s"maxDf: $maxDf")
    val exploded0 = hashed.select(col("id"), size(col("hs")).as("n"),
      explode(col("hs")).as("h"))
    val exploded =
      if (persistIndex)
        exploded0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else exploded0
    val idx =
      if (maxDf == Int.MaxValue) exploded
      else {
        val keep = exploded.groupBy(col("h"))
          .agg(count(lit(1)).as("df"))
          .where(col("df") <= maxDf)
          .select(col("h"))
        exploded.join(keep, Seq("h"))
      }
    val a = idx.select(col("h"), col("id").as("id_a"), col("n").as("n_a"))
    val b = idx.select(col("h"), col("id").as("id_b"), col("n").as("n_b"))
    // hs is distinct per doc, so each shared n-gram contributes exactly
    // one joined row: count(*) IS the distinct shared-n-gram count.
    // Length filter (standard in the exact-similarity-join literature):
    // jaccard ≥ t forces t·|A| ≤ |B| and t·|B| ≤ |A| (shared ≤ min, union
    // ≥ max), so size-mismatched pairs drop BEFORE the pair aggregation —
    // exactness-preserving, and at scale it prunes the long tail of
    // short-doc × long-doc candidates the shared-n-gram join generates.
    a.join(b, Seq("h"))
      .where(col("id_a") < col("id_b") &&
        col("n_b") >= col("n_a") * threshold &&
        col("n_a") >= col("n_b") * threshold)
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Pairwise-similarity calibration histogram — the "where should the
    * dedup threshold sit" diagnostic: bucket the EXACT Jaccard of every
    * [[jaccardNearDups]] pair with similarity ≥ `minSim` into
    * `buckets` equal-width bands and count pairs per band (plus the
    * band's exact average similarity). A corpus whose mass piles at
    * 0.95–1.0 wants an aggressive threshold; a long 0.5–0.8 shoulder
    * means boilerplate families a hard 0.9 cut would miss — this is the
    * curve that decision reads from.
    *
    * Exactness/scale contract: inherited from [[jaccardNearDups]]
    * verbatim (df-capped inverted index, length filter, never all-pairs);
    * the histogram itself is a ≤ `buckets`-row aggregate over the
    * pairs-scale relation. At 100 TB calibrate on a deterministic
    * [[CorpusOps.hashSample]] sub-corpus — the curve is a distribution
    * estimate, it does not need every pair.
    *
    * Bucketing: floor(jaccard·buckets) clamped to buckets−1 — both
    * factors are the same IEEE doubles in every engine (jaccard is
    * rounded to 6 at the edge), so band boundaries are reproducible.
    * Only non-empty bands are emitted.
    */
  def similarityHistogram(hashed: DataFrame, minSim: Double,
                          buckets: Int = 10,
                          maxDf: Int = Int.MaxValue,
                          persistIndex: Boolean = true): DataFrame = {
    require(buckets >= 1, s"buckets: $buckets")
    jaccardNearDups(hashed, minSim, maxDf, persistIndex)
      .select(least(floor(col("jaccard") * buckets).cast("int"),
        lit(buckets - 1)).as("band"), col("jaccard"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("jaccard").cast("decimal(28,6)")).cast("double")
          / count(lit(1)), 6).as("avg_jaccard"))
      .select(col("band"),
        round(col("band").cast("double") / buckets, 6).as("sim_lo"),
        col("n_pairs"), col("avg_jaccard"))
  }

  /** Asymmetric CONTAINMENT near-dup: pairs whose shared distinct n-grams
    * cover ≥ `threshold` of the SMALLER document's n-gram set —
    * `containment = shared / min(|A|, |B|)` (Broder's containment, the
    * quotation/subset-duplication detector). Symmetric Jaccard structurally
    * misses a short doc embedded verbatim in a much longer one (a 50-token
    * doc inside a 5000-token doc has jaccard ≈ 0.01 but containment 1.0);
    * this is the measure that catches boilerplate inclusion, quoted
    * passages, and wrapper-page duplication.
    *
    * Input is a [[hashedNgrams]]-shaped relation (`id`, `hs` distinct).
    * Same df-capped inverted-index plan as [[jaccardNearDups]] — candidate
    * volume is the count of genuinely shared (df ≤ maxDf) n-grams, never
    * |docs|². The Jaccard length filter does NOT apply here (containment
    * deliberately relates mismatched sizes), so the df cap is the sole
    * fan-out guard — at 100 TB keep it tight (ubiquitous n-grams carry no
    * containment signal, exactly as in decontamination) and optionally cap
    * the long side's length ratio if wrapper pages dominate.
    *
    * Output: one row per unordered pair (`id_a` < `id_b`) with `shared`,
    * `n_small`, `containment` (round 6), and `contained_id` — the id of the
    * smaller side (ties → `id_a`), i.e. the doc a dedup pass would drop as
    * subsumed.
    */
  /** Scale-adaptive df cap for the containment index (the cap the
    * [[containmentPairs]] scaladoc prescribes tightening at a bigger
    * corpus): `min(capRef, max(floor, capRef·√(refDocs/nDocs)))`.
    *
    * Why √N: candidate volume under a df cap c is Σ_{df≤c} df² ≤ c·|postings|
    * — linear in corpus ONLY once the corpus saturates the bound, so a fixed
    * cap reads super-linear exactly while boilerplate n-grams climb through
    * it (the r12 10× perturb probe measured 13.0× at fixed 50). Tightening
    * the cap as 1/√N bounds measured growth at ~√N until the floor, and the
    * floor keeps every genuinely-contained pair: a true (quote ⊂ doc) pair's
    * shared n-grams have df ≈ 2 regardless of corpus size — only
    * boilerplate-family pairs (df ∝ N) leave the index, and those carry no
    * containment signal. Deterministic in nDocs, so the DuckDB oracle
    * mirrors the same arithmetic; at ≤ refDocs the clamp pins the cap at
    * capRef (the fixture values are unchanged at sf0.01/sf0.1).
    */
  def adaptiveMaxDf(nDocs: Long, capRef: Int = 50, refDocs: Long = 5000L,
                    floor: Int = 8): Int =
    math.min(capRef, math.max(floor,
      math.round(capRef * math.sqrt(refDocs.toDouble / math.max(1L, nDocs)))
        .toInt))

  def containmentPairs(hashed: DataFrame, threshold: Double,
                       maxDf: Int = Int.MaxValue,
                       persistIndex: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold: $threshold")
    require(maxDf >= 1, s"maxDf: $maxDf")
    val exploded0 = hashed.select(col("id"), size(col("hs")).as("n"),
      explode(col("hs")).as("h"))
    val exploded =
      if (persistIndex)
        exploded0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else exploded0
    val idx =
      if (maxDf == Int.MaxValue) exploded
      else {
        val keep = exploded.groupBy(col("h"))
          .agg(count(lit(1)).as("df"))
          .where(col("df") <= maxDf)
          .select(col("h"))
        exploded.join(keep, Seq("h"))
      }
    val a = idx.select(col("h"), col("id").as("id_a"), col("n").as("n_a"))
    val b = idx.select(col("h"), col("id").as("id_b"), col("n").as("n_b"))
    // hs is distinct per doc ⇒ count(*) is the distinct shared count.
    a.join(b, Seq("h"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("shared"))
      .select(col("id_a"), col("id_b"), col("shared"),
        least(col("n_a"), col("n_b")).cast("long").as("n_small"),
        round(col("shared").cast("double") /
          least(col("n_a"), col("n_b")), 6).as("containment"),
        when(col("n_a") <= col("n_b"), col("id_a")).otherwise(col("id_b"))
          .as("contained_id"))
      .where(col("containment") >= threshold)
  }

  /** Bottom-k containment ESTIMATOR audit — the sketch that takes
    * [[containmentPairs]] to 100 TB: a doc's k smallest n-gram hashes are
    * a uniform sample of its set (the classic bottom-k/KMV minwise
    * sketch), so |bottomK(A) ∩ B| / min(k, |A|) estimates C(A→B) with
    * error O(1/√k) — and because the hashes are the shared deterministic
    * h60 family, the estimator is REPLAYABLE in any engine. This audit
    * computes, for every exact containment pair, the k-budget estimate
    * next to the exact value — the q_minhash_acc pattern applied to the
    * asymmetric measure: the table that picks k before trusting
    * sketch-only containment at scale (where the full sets never meet —
    * only sketches ship).
    *
    * Output: the [[containmentPairs]] columns + `est` (round 6) and
    * `abs_err`.
    */
  def containmentSketchAudit(hashed: DataFrame, threshold: Double,
                             maxDf: Int, k: Int): DataFrame = {
    require(k >= 1, s"k: $k")
    val pairs = containmentPairs(hashed, threshold, maxDf)
      .withColumn("container_id",
        when(col("contained_id") === col("id_a"), col("id_b"))
          .otherwise(col("id_a")))
    pairs
      .join(hashed.select(col("id").as("contained_id"),
        col("hs").as("hs_s")), Seq("contained_id"))
      .join(hashed.select(col("id").as("container_id"),
        col("hs").as("hs_b")), Seq("container_id"))
      .withColumn("est",
        round(size(array_intersect(slice(array_sort(col("hs_s")), 1, k),
          col("hs_b"))).cast("double") /
          least(lit(k), size(col("hs_s"))), 6))
      .select(col("id_a"), col("id_b"), col("contained_id"),
        col("containment"), col("est"),
        round(abs(col("est") - col("containment")), 6).as("abs_err"))
  }

  /** Sub-document SEGMENT dedup (the paragraph-granularity pass of
    * CCNet-style pipelines, expressed over token streams): cut each doc
    * into DISJOINT `segLen`-token segments, keep the corpus-wide FIRST
    * occurrence of every distinct segment (ordered by (id, seg_idx) — the
    * same deterministic keeper rule as exact dedup), and account per doc
    * how much text survives. Catches repeated boilerplate blocks that
    * doc-level exact/near dedup misses because the containing docs differ.
    *
    * Input: `idCol` + tokenized `toksCol`; rows with empty token lists are
    * excluded (no segments to account). Output per doc: `n_segs`,
    * `dup_segs` (segments already seen earlier in (id, seg_idx) order),
    * `total_toks`, `kept_toks`, `kept_frac` (round 6).
    *
    * Plan: one narrow generate (sequence → slice → posexplode — all
    * codegen'd builtins), one window partitioned by the segment key to
    * rank occurrences, one groupBy(id) fold. The window's shuffle is keyed
    * on the segment — the same key an exact-dedup groupBy would use. At
    * 100 TB swap the raw segment string for `xxhash64(seg)` (or the 128-bit
    * pair) as the partition key so the shuffle carries 8–16 bytes per
    * segment instead of `segLen` tokens; the rank logic is unchanged.
    */
  def segmentDedup(docs: DataFrame, idCol: String, toksCol: String,
                   segLen: Int): DataFrame = {
    require(segLen >= 1, s"segLen: $segLen")
    import org.apache.spark.sql.expressions.Window
    val nToks = size(col(toksCol))
    val lastSeg = floor((nToks - 1).cast("double") / segLen).cast("int")
    val segs = docs
      .where(nToks > 0)
      .select(col(idCol).as("id"), nToks.as("n_toks"),
        posexplode(transform(sequence(lit(0), lastSeg),
          i => concat_ws(" ", slice(col(toksCol), i * segLen + 1, lit(segLen))))))
      .select(col("id"), col("pos").as("seg_idx"), col("col").as("seg"),
        least(lit(segLen), col("n_toks") - col("pos") * segLen).as("ntoks"))
    val w = Window.partitionBy(col("seg")).orderBy(col("id"), col("seg_idx"))
    segs.withColumn("rn", row_number().over(w))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("dup_segs"),
        sum(col("ntoks").cast("long")).as("total_toks"),
        sum(when(col("rn") === 1, col("ntoks").cast("long")).otherwise(0L))
          .as("kept_toks"))
      .withColumn("kept_frac",
        round(col("kept_toks").cast("double") / col("total_toks"), 6))
  }

  /** Benchmark decontamination: training docs that share ≥ `minShared`
    * distinct n-gram hashes with a benchmark/eval doc — the overlap check
    * every training corpus runs against its eval sets before training.
    *
    * Inputs are [[hashedNgrams]]-shaped relations (`id`, `hs`). The plan
    * is an equi-join on the n-gram HASH (train side exploded, bench side
    * exploded) → count per (train, bench) pair: candidate volume is the
    * number of genuinely shared n-grams, never |train|×|bench|.
    * `maxTrainDf` drops n-grams whose train-side document frequency
    * exceeds the cap before the join — simultaneously the skew guard for
    * boilerplate n-grams (a hot phrase would fan out |df|×|bench hits|
    * rows) and standard decontamination practice: ubiquitous n-grams
    * carry no contamination signal, rare ones do. At 100 TB the df
    * relation is itself the reusable artifact (compute once per corpus
    * snapshot, broadcast the surviving-bench side if the eval set is
    * small — Catalyst picks that up from sizes).
    */
  def contaminationPairs(trainHashed: DataFrame, benchHashed: DataFrame,
                         minShared: Int, maxTrainDf: Int,
                         persistTrain: Boolean = true): DataFrame = {
    require(minShared >= 1, s"minShared: $minShared")
    require(maxTrainDf >= 1, s"maxTrainDf: $maxTrainDf")
    // hs comes from ngramHashSet (already distinct per doc), so the final
    // count is the DISTINCT shared-n-gram count without a re-distinct.
    // The exploded train relation feeds TWO plan branches (the df
    // aggregate and the bench join); persist it so the upstream
    // tokenize+hash pipeline runs once (same rationale as
    // verifiedNearDupsFromHashes — measured 2.3 s → ~1.2 s at sf0.1).
    // Lifetime contract: the entry lives until the CALLER clears it
    // (`spark.catalog.clearCache()` — Verify/Bench do, per query); pass
    // persistTrain=false in long-lived sessions that manage caching
    // themselves.
    val train0 = trainHashed
      .select(col("id").as("train_id"), explode(col("hs")).as("h"))
    val train =
      if (persistTrain)
        train0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else train0
    val keepable = train.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxTrainDf)
      .select(col("h"))
    val bench = benchHashed
      .select(col("id").as("bench_id"), explode(col("hs")).as("h"))
    train.join(keepable, Seq("h"))
      .join(bench, Seq("h"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** [[contaminationPairs]] with a Bloom-filter pre-pass — the 100 TB
    * form. The bench side's n-gram hashes (eval suites are MBs, not TBs)
    * are folded into a compact Bloom filter, broadcast, and applied as a
    * MAP-SIDE filter on the exploded train stream BEFORE any shuffle —
    * so the df aggregate and the bench join shuffle only n-grams that
    * might appear in the bench set (|bench| + fpp·|train| rows) instead
    * of the full corpus stream.
    *
    * The filter is built in ONE `treeAggregate` pass over the COMPACT
    * `(id, hs)` bench relation — no explode shuffle, no persist, and no
    * exact `count()` sizing job (the round-8 driver bench measured those
    * two extra per-invocation jobs at up to 7× the exact plan's cost).
    * Capacity comes from `expectedBenchHashes`, a caller-supplied
    * over-estimate: exceeding the real cardinality only wastes a few
    * filter bits, and a real bench set larger than the estimate only
    * RAISES the false-positive rate — more train n-grams survive to the
    * verify join, which discards them; no correct pair can be lost. The
    * default (4M hashes ≈ 5 MB at fpp 0.01) covers eval suites orders of
    * magnitude larger than MMLU-scale; size it to the corpus snapshot at
    * 100 TB.
    *
    * The result is IDENTICAL to [[contaminationPairs]], not approximate:
    * Bloom filters have no false negatives, the keep/drop decision is a
    * pure function of the hash value (so for every surviving hash ALL its
    * occurrences survive — train-df counts are unchanged), and false
    * positives are exactly the hashes that then find no bench partner in
    * the verify join. Same candidates→verify contract as the MinHash /
    * FastSS families; the oracle is the exact query's oracle.
    */
  def contaminationPairsBloom(trainHashed: DataFrame, benchHashed: DataFrame,
                              minShared: Int, maxTrainDf: Int,
                              fpp: Double = 0.01,
                              expectedBenchHashes: Long = 4000000L): DataFrame = {
    require(minShared >= 1, s"minShared: $minShared")
    require(maxTrainDf >= 1, s"maxTrainDf: $maxTrainDf")
    require(expectedBenchHashes >= 1, s"expectedBenchHashes: $expectedBenchHashes")
    require(fpp > 0 && fpp < 1, s"fpp: $fpp")
    // null-safe seqOp (a null `hs` array is skipped, matching the old
    // explode-based build — ADVICE r09 #1), and the insert count rides
    // along so capacity-estimate misses are LOUD: past the estimate the
    // filter silently degrades toward fpp→1 (still correct — the verify
    // join discards the extra survivors — but the pre-pass stops paying
    // for itself), which is invisible without this number (ADVICE r09 #4).
    val (bloom, inserted) = benchHashed.select(col("hs")).rdd.treeAggregate(
        (org.apache.spark.util.sketch.BloomFilter.create(expectedBenchHashes, fpp), 0L))(
      (acc, row) => {
        if (row.isNullAt(0)) acc
        else {
          val hs = row.getSeq[Long](0)
          hs.foreach(acc._1.putLong)
          (acc._1, acc._2 + hs.size)
        }
      },
      (a, b) => { a._1.mergeInPlace(b._1); (a._1, a._2 + b._2) })
    if (inserted > expectedBenchHashes)
      System.err.println(
        s"[graft] contaminationPairsBloom: inserted $inserted hashes into a " +
          s"Bloom filter sized for $expectedBenchHashes — effective fpp is " +
          s"above the requested $fpp and the pre-pass filters less than " +
          "designed (results stay exact); raise expectedBenchHashes to at " +
          "least the bench set's n-gram count")
    val bloomB = trainHashed.sparkSession.sparkContext.broadcast(bloom)
    // native codegen'd predicate, not a UDF: the filter runs on the
    // exploded corpus-scale stream and must stay inside the fused stage
    val mightContain = graft.expr.BloomMightContainLong(bloomB) _
    // The filtered train stream feeds TWO branches (df aggregate + bench
    // join); persist keeps the full-corpus tokenize+hash to one pass.
    // Same caller-managed lifetime contract as contaminationPairs.
    val train = trainHashed
      .select(col("id").as("train_id"), explode(col("hs")).as("h"))
      .where(mightContain(col("h")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepable = train.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxTrainDf)
      .select(col("h"))
    val bench = benchHashed
      .select(col("id").as("bench_id"), explode(col("hs")).as("h"))
    train.join(keepable, Seq("h"))
      .join(bench, Seq("h"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Positional n-gram hash relation `(id, pos, h)`: the hash of the
    * k-token window STARTING at token index `pos` (0-based), one row per
    * window including repeats — the positional sibling of
    * [[hashedNgrams]]'s distinct set form, and the input
    * [[substringRunPairs]] aligns on.
    */
  def positionalNgrams(docs: DataFrame, idCol: String, toksCol: Column,
                       n: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        posexplode(call_function("ngram_hashes",
          transform(toksCol, t => Hashes.h60(t)), lit(n))).as(Seq("pos", "h")))

  /** Cross-document EXACT substring duplication: pairs of documents
    * sharing a verbatim run of ≥ `minRunTokens` consecutive tokens — the
    * substring-level dedup signal (long verbatim overlap) that set-based
    * near-dup (MinHash/Jaccard over n-gram SETS) dilutes away when the
    * overlap is a small fraction of each document.
    *
    * Relational form of the suffix-array scan over a distributed corpus:
    *  1. positional k-token n-gram hashes per doc ([[positionalNgrams]]);
    *  2. df-cap: drop window hashes with > `maxDf` total occurrences
    *     (boilerplate guard — same role as [[jaccardNearDups]]' cap, and
    *     the join-fanout bound: candidate volume after it is the number
    *     of genuinely shared rare windows, never |corpus|²);
    *  3. equi-join on the hash → matched position pairs;
    *  4. runs via DIAGONAL ISLANDS: aligned positions share
    *     `diag = pos_a − pos_b`; within a (pair, diag) group, consecutive
    *     `pos_a` values are one island (`pos_a − row_number()`), and an
    *     island of `m` matched k-windows is a shared run of `m + k − 1`
    *     tokens. Window partitions are (pair, diag) — match-sized, never
    *     corpus-sized.
    *
    * Output: `(id_a, id_b, max_run_tokens, n_matches)` for pairs with
    * `max_run_tokens ≥ minRunTokens`; all-integer columns, so the DuckDB
    * oracle hash-matches exactly. Positions are alignment-internal (the
    * island arithmetic is translation-invariant), so the engine's 0-based
    * and the oracle's 1-based positions agree.
    */
  def substringRunPairs(docs: DataFrame, idCol: String, toksCol: Column,
                        k: Int, minRunTokens: Int, maxDf: Int,
                        persistIndex: Boolean = true): DataFrame = {
    require(k >= 2, s"k: $k")
    require(minRunTokens >= k, s"minRunTokens $minRunTokens < k $k")
    require(maxDf >= 2, s"maxDf: $maxDf (a shared window needs df ≥ 2)")
    val pos0 = positionalNgrams(docs, idCol, toksCol, k)
    // feeds three plan branches (df aggregate + both join sides) — same
    // caller-managed persist contract as jaccardNearDups
    val pos =
      if (persistIndex)
        pos0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else pos0
    val keep = pos.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("h"))
    val idx = pos.join(keep, Seq("h"))
    val a = idx.select(col("h"), col("id").as("id_a"), col("pos").as("pos_a"))
    val b = idx.select(col("h"), col("id").as("id_b"), col("pos").as("pos_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    a.join(b, Seq("h"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pos_a"),
        (col("pos_a") - col("pos_b")).as("diag"))
      .withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("island"))
      .agg(count(lit(1)).as("run_ng"))
      .groupBy(col("id_a"), col("id_b"))
      .agg((max(col("run_ng")) + k - 1).as("max_run_tokens"),
        sum(col("run_ng")).as("n_matches"))
      .where(col("max_run_tokens") >= minRunTokens)
  }

  /** Connected components of an undirected pair graph — the step that
    * turns pairwise near-dup output ([[verifiedNearDupsFromHashes]],
    * [[jaccardNearDups]], [[simhashNearDupPairs]]) into duplicate
    * CLUSTERS: transitively, if A~B and B~C then {A,B,C} is one group
    * and one keeper (the min id) survives. Input: a (aCol, bCol) edge
    * relation; output: (id, component) for every endpoint, component =
    * min id reachable.
    *
    * Min-label propagation WITH pointer jumping: every node starts
    * labeled with itself; each round every node takes the min of its own
    * and its neighbors' labels and then resolves one extra indirection
    * (label(x) ← label(label(x)) — the Hash-to-Min/star-contraction idea
    * in one join), so propagation distance doubles per round and the
    * loop converges in O(log diameter) rounds, not O(diameter). Each
    * round is two hash joins + one aggregation — all distributed; the
    * driver loop only evaluates the scalar changed-count, the standard
    * iterate-to-convergence shape (same driver posture as
    * [[Similarity.kmeansCentroids]]'s bounded Lloyd loop). Near-dup
    * components are overlap cliques with tiny diameters (2–4 typ.), so
    * the loop is a handful of rounds even on chain-shaped graphs; the
    * `maxIters` guard throws instead of returning a half-converged
    * clustering.
    *
    * The label relation is `localCheckpoint`ed each round — `persist`
    * alone does NOT cut logical-plan lineage, so without the checkpoint
    * the plan tree doubles per iteration and the 10th round's analysis
    * alone OOMs (measured). At cluster scale substitute a reliable
    * `checkpoint()` (HDFS-backed) for fault tolerance; localCheckpoint is
    * the single-app fast path and the blocks of superseded rounds are
    * reclaimed by the context cleaner.
    */
  /** One min-label propagation round (neighbor-min over the symmetric
    * edge relation), pre-checkpoint. Extracted so its JOIN PLAN is
    * directly auditable: the public loop checkpoints every round, so the
    * frame [[connectedComponents]] returns is a LogicalRDD leaf — the
    * per-round plans are invisible to external plan guards
    * (PlanShapeSpec exempts q_dedup_clusters for exactly that reason and
    * DedupSpec audits this round instead).
    */
  private[ops] def ccRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    // neighbor labels: for each edge (src,dst), dst's current label is a
    // candidate for src; min over self ∪ neighbors
    val fromNeighbors = edges
      .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
      .select(col("src").as("id"), col("component"))
    labels.union(fromNeighbors)
      .groupBy(col("id"))
      .agg(min(col("component")).as("component"))
  }

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 20): DataFrame = {
    require(maxIters >= 1, s"maxIters: $maxIters")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // symmetric edge set: one relation, both directions
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(lvl)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint(true)
    // Convergence is detected by the exact label-sum, not a join: labels
    // are MONOTONE non-increasing (every round takes a min over
    // self ∪ neighbors, and the pointer jump substitutes label(c) ≤ c),
    // so Σ component is strictly decreasing until the fixpoint and equal
    // exactly there. That turns the per-round changed-count — a keyed
    // join of two label relations plus a count (two shuffles) — into one
    // shuffle-free aggregate over the already-checkpointed round output.
    // DECIMAL(38,0) keeps the sum exact at any id scale (10¹² docs of
    // 2⁶⁰-bit ids is ~10³⁰ ≪ 10³⁸). A NULL sum is ambiguous — empty input
    // OR (non-ANSI) decimal overflow — so empty input short-circuits
    // BEFORE the loop and any in-loop NULL fails loudly instead of
    // masquerading as 0 == 0 convergence (ADVICE r18).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("component").cast("decimal(38,0)")).as("s"))
        .head().getDecimal(0)
      if (s == null) throw new ArithmeticException(
        "connectedComponents: label sum overflowed decimal(38,0) — " +
          "component ids exceed the documented 10³⁸ envelope")
      s
    }
    if (labels.isEmpty) { edges.unpersist(); return labels }
    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      it += 1
      // materialized BEFORE the self-join below: joining a plan with an
      // un-materialized copy of itself (union + groupBy twice) trips
      // Catalyst's union-constraint attribute rewrite under AQE
      val propagated = ccRound(edges, labels).localCheckpoint(true)
      // pointer jumping: label(x) ← label(label(x)). Every label value is
      // itself a node id (it's some node's running min), so the self-join
      // resolves one more indirection — propagation distance DOUBLES per
      // round instead of advancing one hop, turning O(diameter) rounds
      // into O(log diameter) (the Hash-to-Min/star-contraction idea in
      // one join). coalesce covers nothing in practice (every component
      // id is present) but keeps the op total if an id-less edge slips in.
      val next = propagated
        .join(propagated.select(col("id").as("cid"), col("component").as("cc")),
          col("component") === col("cid"), "left")
        .select(col("id"), coalesce(col("cc"), col("component")).as("component"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "graph diameter exceeds the min-propagation budget; raise " +
          "maxIters or use a star-contraction variant for chain-shaped graphs")
    labels
  }

  /** Per-cluster representative ("which duplicate survives"): within each
    * component keep the member with the highest `scoreCol` (ties → smaller
    * `idCol` — deterministic for engine-portable rounded scores). One
    * row_number window per component plus a count aggregate; components are
    * the OUTPUT of dedup, so both are shuffles over cluster members only —
    * orders of magnitude below corpus scale.
    *
    * @param members one row per cluster member: (componentCol, idCol, scoreCol)
    * @return (componentCol, rep_id, rep_score, n_members)
    */
  def clusterRepresentatives(members: DataFrame, componentCol: String,
                             idCol: String, scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(componentCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val rep = members.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col(componentCol), col(idCol).as("rep_id"),
        col(scoreCol).as("rep_score"))
    val sz = members.groupBy(col(componentCol))
      .agg(count(lit(1)).cast("long").as("n_members"))
    rep.join(sz, Seq(componentCol))
  }

  /** Duplication SPECTRUM: the cluster-size histogram over near-dup
    * connected components, with every doc in NO pair counted as its own
    * size-1 component — the full "how duplicated is this corpus" curve.
    * Dedup planning at 100 TB reads this before anything else: the size-1
    * mass bounds what dedup can save, a heavy tail of giant components
    * predicts CC round counts and skewed keeper joins, and
    * `doc_share`'s cumulative complement is exactly the fraction a
    * keep-one-per-cluster pass deletes. Output: one row per distinct
    * component size — `csize, n_components, n_docs, doc_share` (round-6
    * share of ALL docs standing in components of this size).
    *
    * Shape: [[connectedComponents]] over the pairs (pointer-jumping,
    * O(log diameter) rounds), one left join to attach labels to the
    * corpus (absent label → own id), then two count aggregates collapsing
    * to ≤ distinct-sizes rows; the share attaches from a one-row count
    * aggregate broadcast. Nothing after the CC pass is corpus-scale wide.
    */
  def duplicationSpectrum(docs: DataFrame, idCol: String,
                          pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    val labeled = docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(coalesce(col("component"), col(idCol)).as("component"))
    val sizes = labeled.groupBy(col("component"))
      .agg(count(lit(1)).cast("long").as("csize"))
    val hist = sizes.groupBy(col("csize"))
      .agg(count(lit(1)).cast("long").as("n_components"))
      .withColumn("n_docs", (col("csize") * col("n_components")).cast("long"))
    val tot = docs.agg(count(lit(1)).cast("long").as("n_total"))
    hist.crossJoin(broadcast(tot))
      .select(col("csize"), col("n_components"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total").cast("double"), 6)
          .as("doc_share"))
  }

  /** SimHash (60-bit) of a token array: per bit position, sum ±1 votes from
    * each token occurrence's hash bit, then pack the sign bits. Votes are
    * term-frequency weighted (duplicates kept on purpose — distinct-token
    * simhash collapses on corpora with a shared vocabulary). Near-identical
    * documents land within small Hamming distance; pair search is
    * `bit_count(a ^ b) <= d` on a compact integer — no arrays at join time.
    *
    * One md5 per token, then all 60 bit-votes in a single generated pass
    * (native [[graft.expr.SimHash60]]; the composed
    * `transform(sequence(0,59), i -> aggregate(hashes, ...))` form re-walked
    * — and re-hashed — every token 60×: 107 s of a 202 s sf0.1 bench).
    */
  def simhash(toks: Column): Column =
    call_function("simhash60", transform(toks, t => Hashes.h60(t)))

  /** Corpus capacity of the pigeonhole pair search at a given `maxHamming`:
    * blocks carry ⌊60/(d+1)⌋ bits ⇒ ~2^that buckets per block, and the
    * bucket self-join stays ~linear while N ≲ occupancy·capacity (e.g.
    * d=5 ⇒ 2¹⁰ buckets: fine to ~10⁵–10⁶ docs, quadratic far beyond).
    * Block width is pinned by the pigeonhole argument — m blocks are exact
    * only for m ≥ d+1 — so the scale lever is fingerprint WIDTH, not block
    * count: [[simhashWide]]/[[simhashNearDupPairsWide]] double to 120 bits,
    * doubling every block's width (d=5 ⇒ 2²⁰ buckets ⇒ ~10⁸–10⁹ docs).
    */
  def simhashCapacity(maxHamming: Int): Long = 1L << (60 / (maxHamming + 1))

  /** 120-bit simhash as `array(word0, word1)`: word0 is [[simhash]]; word1
    * votes over an independent rehash of each token (`h60("w1:" ∥ token)`)
    * — a second 60-bit hyperplane set, still md5-portable to a DuckDB
    * oracle via the same votes CTE as `q_simhash`. (An affine permutation
    * of the word0 hashes would be one multiply cheaper, but the wrapped
    * 64-bit product is an ANSI-mode overflow error in a plain column
    * expression — wrapping arithmetic lives only inside the native
    * sketch expressions.) Near-identical docs stay within small TOTAL
    * Hamming distance across both words; distance thresholds roughly
    * double vs the 60-bit form (same per-bit flip probability, twice the
    * bits).
    */
  def simhashWide(toks: Column): Column =
    array(
      call_function("simhash60", transform(toks, t => Hashes.h60(t))),
      call_function("simhash60",
        transform(toks, t => Hashes.h60(concat(lit("w1:"), t)))))

  /** Hamming distance between two simhash fingerprints. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** All pairs within `maxHamming` of each other, from an (idCol, fpCol)
    * fingerprint relation — WITHOUT the quadratic all-pairs product.
    *
    * Pigeonhole exact blocking: split the 60-bit fingerprint into
    * `maxHamming + 1` contiguous blocks; two fingerprints within distance d
    * differ in ≤ d blocks, so they AGREE on at least one block — a bucket
    * join on (block index, block value) finds every qualifying pair, and
    * the exact Hamming filter afterwards removes false candidates. One
    * hash-partitioned shuffle on the block key; candidate volume scales
    * with bucket occupancy (corpus-linear for well-spread fingerprints),
    * not corpus². This is the 100 TB form of the `q_simhash` search; the
    * all-pairs form survives only inside the fixture-scale DuckDB oracle.
    */
  def simhashNearDupPairs(fp: DataFrame, idCol: String, fpCol: String,
                          maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 60, s"maxHamming: $maxHamming")
    val nBlocks = maxHamming + 1
    // Even bit distribution with NO empty block: the first (60 mod nBlocks)
    // blocks get ⌈60/nBlocks⌉ bits, the rest ⌊60/nBlocks⌋. A uniform
    // ⌈60/nBlocks⌉ width would leave whole blocks above bit 59 for many
    // nBlocks values — identically zero for every fingerprint, i.e. one
    // bucket holding the entire corpus (the quadratic product this
    // function exists to avoid).
    val base = 60 / nBlocks
    val rem = 60 % nBlocks
    val widths = Seq.tabulate(nBlocks)(j => if (j < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val blocks = array((0 until nBlocks).map { j =>
      shiftrightunsigned(col(fpCol), offsets(j))
        .bitwiseAND(lit((1L << widths(j)) - 1))
    }: _*)
    val exploded = fp.select(col(idCol).as("id"), col(fpCol).as("fp"),
      posexplode(blocks).as(Seq("blk", "blkval")))
    val a = exploded.select(col("blk"), col("blkval"),
      col("id").as("id_a"), col("fp").as("fp_a"))
    val b = exploded.select(col("blk"), col("blkval"),
      col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("blk", "blkval"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("fp_a"), col("fp_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** [[simhashNearDupPairs]] over [[simhashWide]] 120-bit fingerprints —
    * the large-corpus form ([[simhashCapacity]]): same exact pigeonhole
    * argument over 120 bits, so every block is twice as wide and the
    * bucket space squares. Blocks are split per word (word0 gets
    * ⌈(d+1)/2⌉, word1 the rest) so no block straddles the word boundary;
    * total Hamming = word0 ⊕ + word1 ⊕. Exact for d ≤ maxHamming: d bit
    * errors cannot touch all d+1 blocks.
    */
  def simhashNearDupPairsWide(fp: DataFrame, idCol: String, fpCol: String,
                              maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 120, s"maxHamming: $maxHamming")
    val nBlocks = maxHamming + 1
    val word0Blocks = (nBlocks + 1) / 2
    val word1Blocks = nBlocks - word0Blocks
    def layout(nb: Int): Seq[(Int, Int)] = { // (offset, width) within a word
      if (nb == 0) Seq.empty
      else {
        val base = 60 / nb
        val rem = 60 % nb
        val widths = Seq.tabulate(nb)(j => if (j < rem) base + 1 else base)
        widths.scanLeft(0)(_ + _).zip(widths)
      }
    }
    val blocks = array(
      (layout(word0Blocks).map { case (off, w) => (0, off, w) } ++
        layout(word1Blocks).map { case (off, w) => (1, off, w) })
        .map { case (word, off, w) =>
          shiftrightunsigned(element_at(col(fpCol), word + 1), off)
            .bitwiseAND(lit((1L << w) - 1))
            // disambiguate equal values across words/offsets: the bucket
            // key already carries the block index via posexplode
        }: _*)
    val exploded = fp.select(col(idCol).as("id"), col(fpCol).as("fp"),
      posexplode(blocks).as(Seq("blk", "blkval")))
    val a = exploded.select(col("blk"), col("blkval"),
      col("id").as("id_a"), col("fp").as("fp_a"))
    val b = exploded.select(col("blk"), col("blkval"),
      col("id").as("id_b"), col("fp").as("fp_b"))
    a.join(b, Seq("blk", "blkval"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (hammingDistance(element_at(col("fp_a"), 1), element_at(col("fp_b"), 1)) +
          hammingDistance(element_at(col("fp_a"), 2), element_at(col("fp_b"), 2)))
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
