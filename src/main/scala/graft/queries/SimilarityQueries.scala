package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Hashes
import graft.ops.{Retrieval, Similarity}

/** Similarity-search surface over `embeddings` (`array<float>`, 64-dim).
  *
  * All three queries are oracle-checked, including the LSH path: every
  * numeric accumulation is order-independent (DECIMAL), every hash is
  * md5-portable, so DuckDB reproduces signatures, buckets, candidates and
  * cosines bit-for-bit. The fixture's vectors are near-random (max pairwise
  * cosine ≈ 0.51, labels uncorrelated with geometry), so LSH recall is
  * honestly low here — the gate verifies the machinery, the ScalaTest spec
  * covers recall behavior on planted clusters.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.parTable(s, dir, "embeddings")

  private val K = 10
  // Gated queries PIN nBits so the DuckDB oracle mirrors the exact bucket
  // layout; the operators' production default is Similarity.AutoBits,
  // which derives the bucket space from the corpus size (scaledNBits) —
  // the scale rule is spec-gated (SimilaritySpec) rather than oracle-gated
  // because the oracle SQL embeds the hyperplane count as a literal.
  private val NBits = 8

  /** q_knn_auto_pin's pinned bucket width: what [[graft.ops.Similarity]]
    * AutoBits resolves to at the sf0.1 bench fixture (2000 vectors:
    * max(minBits 12, ⌈log₂ 2000⌉ + 2) = 13) — a static literal the DuckDB
    * oracle can replay, unlike the adaptive count itself. */
  private val PinBits = 13
  private val NSeeds = 8
  /** q_semdedup_rate's grid — base 0.3 matches q_semdedup's threshold
    * (the shared pair relation), upper points probe the fixture's
    * near-random cosine ceiling (~0.51). */
  private val SemThresholds = Seq(0.3, 0.35, 0.4, 0.45)

  /** The per-label 1-NN agreement relation (label, n_eval, n_correct) —
    * shared by q_knn_accuracy and q_knn_ci so the eval and its intervals
    * read the same draw: 20% id-stride probe sample over the LSH index,
    * full-corpus candidates. The gated queries pin `nBits` = [[NBits]]
    * for oracle replay; passing [[graft.ops.Similarity.AutoBits]] gives
    * the scaledNBits lever (VERDICT r13 #2) on the same relation, as
    * q_knn_auto does.
    *
    * DOCUMENTED SCALE BOUND (r17 cold probes, decorrelated replicas):
    * the pinned-8-bit form is ~quadratic in bucket occupancy — 3.55× at
    * 10× data, 37.9× at 30×, unfinishable at 100× (500k vectors into 256
    * buckets); it exists ONLY because the DuckDB oracle embeds the
    * hyperplane count as a SQL literal. The production form is the SAME
    * relation with [[graft.ops.Similarity.AutoBits]] (occupancy-bounded
    * buckets): 2.32× cold at 100× data. Never deploy the pinned form
    * past fixture scale. */
  def knnAccuracyRelation(s: SparkSession, dir: String,
                          nBits: Int = NBits): DataFrame = {
    val e = emb(s, dir)
    val nn = Similarity.topKNeighborsLsh(
      e.where(pmod(col("vec_id"), lit(5)) === 0), e, k = 1, nBits)
    nn.join(e.select(col("vec_id").as("probe_id"),
          col("label").as("probe_label")), Seq("probe_id"))
      .join(e.select(col("vec_id").as("cand_id"),
          col("label").as("cand_label")), Seq("cand_id"))
      .groupBy(col("probe_label").as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("cand_label") === col("probe_label"), 1L)
          .otherwise(0L)).as("n_correct"))
  }

  // ── Oracle SQL ────────────────────────────────────────────────────────

  /** DECIMAL-exact dot of two embedding expressions (order-independent).
    * Shared with [[AdvancedQueries]]' IVF recall-gate oracle. */
  /** Shared q_semdedup/q_semdedup_rate pair CTE: Voronoi assignment to the
    * lowest-id seeds, within-cell pairs at the base threshold 0.3, ending
    * in `pairs(cell, id_a, id_b, cosine)` — one definition so the sweep
    * reads EXACTLY the relation q_semdedup gates. */
  private lazy val SemPairsCte: String =
    s"""seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
              embedding AS sv
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $NSeeds)),
          scored AS (
            SELECT e.vec_id, e.embedding, s.cell,
              ${cosineSql("e.embedding", "s.sv")} AS cos
            FROM embeddings e CROSS JOIN seeds s),
          assigned AS (
            SELECT vec_id, embedding, cell FROM (
              SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
              FROM scored)
            WHERE rn = 1),
          pairs AS (
            SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
              ${cosineSql("a.embedding", "b.embedding")} AS cosine
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.3)"""

  /** Shared 1-NN agreement CTE (q_knn_accuracy + q_knn_ci at [[NBits]],
    * q_knn_auto_pin at [[PinBits]]): the q_knn_lsh bucket chain with the
    * 20% id-stride probe sample and rank = 1, folded to
    * `acc(label, n_eval, n_correct)`. */
  private def knnAccCte(bits: Int): String =
    s"""sig AS (
            SELECT vec_id, embedding, ${bucketSql("embedding", bits)} AS b0
            FROM embeddings),
          probes AS (
            SELECT vec_id AS probe_id, embedding AS pv, unnest(
              [b0] || list_transform(generate_series(0, ${bits - 1}),
                                     i -> xor(b0, 1::BIGINT << i))) AS bucket
            FROM sig WHERE vec_id % 5 = 0),
          cands AS (
            SELECT DISTINCT probe_id, pv, s.vec_id AS cand_id, s.embedding AS cv
            FROM probes JOIN sig s ON probes.bucket = s.b0
            WHERE probe_id <> s.vec_id),
          scored AS (
            SELECT probe_id, cand_id, ${cosineSql("pv", "cv")} AS cosine
            FROM cands),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY cosine DESC, cand_id ASC) AS rank
            FROM scored),
          nn AS (SELECT probe_id, cand_id FROM ranked WHERE rank = 1),
          acc AS (
            SELECT pl.label AS label, count(*) AS n_eval,
              CAST(sum(CASE WHEN cl.label = pl.label THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_correct
            FROM nn
            JOIN embeddings pl ON nn.probe_id = pl.vec_id
            JOIN embeddings cl ON nn.cand_id = cl.vec_id
            GROUP BY 1)"""

  /** Shared PQ CTE chain (q_pq_codes + q_pq_adc): 16-seed codebook,
    * 8 subspaces of 8 dims, per-(vec, sub, code) exact-decimal rounded d²
    * (`scored` — for probe vectors this IS the ADC lookup table), and the
    * per-(vec, sub) argmin (`best`, rn = 1 row). */
  private lazy val PqCte: String =
    s"""seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
              embedding AS sv
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
          subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
          vx AS (
            SELECT vec_id, sub, (embedding)[sub*8+1:sub*8+8] AS xv
            FROM embeddings CROSS JOIN subs),
          cb AS (
            SELECT code, sub, (sv)[sub*8+1:sub*8+8] AS cv
            FROM seeds CROSS JOIN subs),
          scored AS (
            SELECT vec_id, vx.sub, cb.code,
              ROUND(CAST(${dotSql("xv", "xv")} AS DOUBLE)
                - 2 * CAST(${dotSql("xv", "cv")} AS DOUBLE)
                + CAST(${dotSql("cv", "cv")} AS DOUBLE), 6) AS d2
            FROM vx JOIN cb ON vx.sub = cb.sub),
          best AS (
            SELECT vec_id, sub, code, d2, row_number() OVER (
              PARTITION BY vec_id, sub ORDER BY d2 ASC, code ASC) AS rn
            FROM scored)"""

  private[queries] def dotSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)),
          i -> CAST(CAST(($a)[i] AS DOUBLE) * CAST(($b)[i] AS DOUBLE)
                    AS DECIMAL(30,16))))"""

  private[queries] def cosineSql(a: String, b: String): String =
    s"""ROUND(CAST(${dotSql(a, b)} AS DOUBLE)
          / (sqrt(CAST(${dotSql(a, a)} AS DOUBLE))
             * sqrt(CAST(${dotSql(b, b)} AS DOUBLE))), 6)"""

  /** Mirror of [[Similarity.hyperplaneWeight]] in DuckDB. */
  private def weightSql(p: String, i: String): String = {
    val h = Hashes.h60Sql(s"CAST($p AS VARCHAR)||':'||CAST($i AS VARCHAR)")
    s"(CAST($h % 2001 AS DOUBLE) - 1000.0) / 1000.0"
  }

  /** Mirror of [[Similarity.signBits]]: nBits-bit bucket id. */
  private[queries] def bucketSql(vec: String, nBits: Int): String =
    s"""list_sum(list_transform(generate_series(0, ${nBits - 1}), p ->
          CASE WHEN list_sum(list_transform(generate_series(1, len($vec)),
                 i -> CAST(CAST(($vec)[i] AS DOUBLE) * ${weightSql("p", "i")}
                           AS DECIMAL(30,16)))) > 0
               THEN (1::BIGINT << p) ELSE 0::BIGINT END))"""

  val queries: Seq[Query] = Seq(
    // Per-vector L2 norm — the basic embedding-column numeric op.
    Query("q_embed_norm", ((s, dir) =>
      emb(s, dir).select(col("vec_id"), col("label"),
        round(sqrt(Similarity.norm2Exact(col("embedding"))), 6).as("l2_norm"))
        .orderBy("vec_id")),
      s"""SELECT vec_id, label,
            ROUND(sqrt(CAST(${dotSql("embedding", "embedding")} AS DOUBLE)), 6)
              AS l2_norm
          FROM embeddings ORDER BY vec_id"""),

    // ── Matryoshka truncation fidelity (dim-budget design table) ────────
    // How much retrieval geometry survives keeping only the first d dims
    // — the table that picks a truncated-embedding budget (the MRL
    // deployment read): cos(full, head_d) = √(Σ_{i≤d}x²/Σx²) and the
    // energy share Σ_{i≤d}x²/Σx², per budget d ∈ {8,16,32,64}. Head and
    // full energies are the exact decimal self-dots (native
    // float_vec_dot_dec on the slice), per-row doubles rounded 6, then
    // decimal-averaged (the q_embed_anisotropy contract). One narrow
    // pass + a 4-way budget explode → 4-row output; d = 64 (the full
    // dim) must read exactly 1.0 — a built-in conservation check.
    Query("q_matryoshka", ((s, dir) =>
      emb(s, dir)
        .select(col("vec_id"), col("embedding"),
          explode(array(lit(8), lit(16), lit(32), lit(64))).as("d"))
        .select(col("d"),
          Similarity.norm2Exact(slice(col("embedding"), lit(1), col("d")))
            .as("ed"),
          Similarity.norm2Exact(col("embedding")).as("e"))
        .select(col("d"),
          round(sqrt(col("ed") / col("e")), 6).as("cosr"),
          round(col("ed") / col("e"), 6).as("ver"))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_vectors"),
          round(sum(col("cosr").cast("decimal(30,10)")).cast("double")
            / count(lit(1)), 6).as("mean_cos"),
          round(sum(col("ver").cast("decimal(30,10)")).cast("double")
            / count(lit(1)), 6).as("mean_var_explained"),
          min(col("ver")).as("min_var_explained"))
        .orderBy("d")),
      // head/full energies via the same decimal self-dot; per-row rounded-6
      // doubles, decimal-averaged (the q_embed_anisotropy contract).
      s"""WITH x AS (
            SELECT vec_id, d,
              CAST(${dotSql("embedding[1:d]", "embedding[1:d]")} AS DOUBLE)
                AS ed,
              CAST(${dotSql("embedding", "embedding")} AS DOUBLE) AS e
            FROM embeddings
            CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS d)),
          r AS (
            SELECT d, ROUND(sqrt(ed / e), 6) AS cosr,
              ROUND(ed / e, 6) AS ver
            FROM x)
          SELECT d, CAST(count(*) AS BIGINT) AS n_vectors,
            ROUND(CAST(SUM(CAST(cosr AS DECIMAL(30,10))) AS DOUBLE)
              / count(*), 6) AS mean_cos,
            ROUND(CAST(SUM(CAST(ver AS DECIMAL(30,10))) AS DOUBLE)
              / count(*), 6) AS mean_var_explained,
            MIN(ver) AS min_var_explained
          FROM r GROUP BY d ORDER BY d"""),

    // ── Embedding-space outlier screen per label ─────────────────────────
    // The contamination read an embedding pipeline runs before trusting
    // labels/centroids: per label, each member's cosine to the label
    // centroid (the q_embed_anisotropy per-row kernel), then the share
    // sitting below mean − 2σ — mislabeled or off-distribution vectors
    // that poison centroid-based dedup and IVF routing. Moments over the
    // ROUNDED per-row cosines are decimal-exact; the threshold is one
    // deterministic double chain, so the flag is engine-stable. Centroids
    // broadcast (≤ labels·d values); the per-row relation persists (it
    // feeds the stats pass AND the flag pass).
    Query("q_emb_outliers", ((s, dir) => {
      val Dec = "decimal(30,16)"
      val v = emb(s, dir)
      val dims = v.select(col("label"),
          posexplode(col("embedding")).as(Seq("pos", "xx")))
        .groupBy(col("label"), col("pos"))
        .agg(round(sum(col("xx").cast("double").cast(Dec)).cast("double")
          / count(lit(1)), 6).as("m"))
      val mu = dims.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s0 => s0.getField("m")).as("mu"))
        .withColumn("mu_norm2", Similarity.dotExactHof(col("mu"), col("mu")))
      val per = v.join(broadcast(mu), Seq("label"))
        .select(col("label"),
          round(Similarity.dotExactHofZeroPad(col("embedding"), col("mu"))
            / (sqrt(Similarity.norm2Exact(col("embedding")))
              * sqrt(col("mu_norm2"))), 6).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val st = per.groupBy(col("label")).agg(
        count(lit(1)).as("n"),
        sum(col("c").cast(Dec)).cast("double").as("sc"),
        sum((col("c") * col("c")).cast(Dec)).cast("double").as("scc"))
      val nd = col("n").cast("double")
      val mean = col("sc") / nd
      val sd = sqrt((col("scc") - col("sc") * col("sc") / nd) / (nd - 1))
      per.join(broadcast(st), Seq("label"))
        .select(col("label"), col("n"),
          round(mean, 6).as("mean_cos"), round(sd, 6).as("sd_cos"),
          when(col("c") < mean - lit(2.0) * sd, 1L).otherwise(0L).as("flag"))
        .groupBy(col("label"), col("n"), col("mean_cos"), col("sd_cos"))
        .agg(sum(col("flag")).as("n_outliers"))
        .select(col("label"), col("n"), col("mean_cos"), col("sd_cos"),
          col("n_outliers"),
          round(col("n_outliers").cast("double") / col("n"), 6)
            .as("outlier_frac"))
        .orderBy("label")
    }),
      // the anisotropy per-row chain + moments over the rounded cosines;
      // the 2σ threshold is the same deterministic double chain both sides.
      s"""WITH dims AS (
            SELECT label, i,
              ROUND(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                    AS DECIMAL(30,16))) AS DOUBLE) / COUNT(*), 6) AS m
            FROM embeddings,
              UNNEST(generate_series(1, len(embedding))) AS t(i)
            GROUP BY label, i),
          mu AS (
            SELECT label, list(m ORDER BY i) AS mu FROM dims GROUP BY label),
          per AS (
            SELECT e.label,
              ROUND(CAST(${dotSql("e.embedding", "mu.mu")} AS DOUBLE)
                / (sqrt(CAST(${dotSql("e.embedding", "e.embedding")}
                     AS DOUBLE))
                   * sqrt(CAST(${dotSql("mu.mu", "mu.mu")} AS DOUBLE))), 6)
                AS c
            FROM embeddings e JOIN mu USING (label)),
          st AS (
            SELECT label, CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CAST(c AS DECIMAL(30,16))) AS DOUBLE) AS sc,
              CAST(SUM(CAST(c * c AS DECIMAL(30,16))) AS DOUBLE) AS scc
            FROM per GROUP BY label),
          k AS (
            SELECT label, n, sc / CAST(n AS DOUBLE) AS mean0,
              sqrt((scc - sc * sc / CAST(n AS DOUBLE))
                / (CAST(n AS DOUBLE) - 1)) AS sd0
            FROM st),
          f AS (
            SELECT per.label, k.n,
              ROUND(k.mean0, 6) AS mean_cos, ROUND(k.sd0, 6) AS sd_cos,
              CASE WHEN per.c < k.mean0 - CAST(2.0 AS DOUBLE) * k.sd0
                   THEN 1 ELSE 0 END AS flag
            FROM per JOIN k ON per.label = k.label)
          SELECT label, n, mean_cos, sd_cos,
            CAST(SUM(flag) AS BIGINT) AS n_outliers,
            ROUND(CAST(SUM(flag) AS DOUBLE) / n, 6) AS outlier_frac
          FROM f GROUP BY label, n, mean_cos, sd_cos ORDER BY label"""),

    // ── Embedding-space anisotropy (collapse diagnostic) ────────────────
    // Per label: mean vector μ + average cosine(v, μ) + mean L2 — the
    // "how collapsed is this space" gate run before trusting cosine
    // dedup thresholds or ANN recall (Similarity.embeddingAnisotropy;
    // Ethayarajh 2019 / Mu & Viswanath 2018). One corpus aggregate to a
    // ≤ labels·64-row relation, broadcast back, one narrow pass.
    Query("q_embed_anisotropy", ((s, dir) =>
      Similarity.embeddingAnisotropy(emb(s, dir), "label", "embedding")
        .orderBy("label")),
      // Mirror of Similarity.embeddingAnisotropy stage by stage: per-dim
      // decimal sums / n rounded 6, μ assembled in position order, decimal
      // dot with UNROUNDED norms rounded 6 per row, decimal averages of the
      // rounded per-row values rounded 6.
      s"""WITH dims AS (
            SELECT label, i,
              ROUND(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                    AS DECIMAL(30,16))) AS DOUBLE) / COUNT(*), 6) AS m
            FROM embeddings,
              UNNEST(generate_series(1, len(embedding))) AS t(i)
            GROUP BY label, i),
          mu AS (
            SELECT label, list(m ORDER BY i) AS mu FROM dims GROUP BY label),
          per AS (
            SELECT e.label,
              ROUND(sqrt(CAST(${dotSql("e.embedding", "e.embedding")}
                AS DOUBLE)), 6) AS l2,
              ROUND(CAST(${dotSql("e.embedding", "mu.mu")} AS DOUBLE)
                / (sqrt(CAST(${dotSql("e.embedding", "e.embedding")} AS DOUBLE))
                   * sqrt(CAST(${dotSql("mu.mu", "mu.mu")} AS DOUBLE))), 6)
                AS cos_mu
            FROM embeddings e JOIN mu USING (label))
          SELECT label, COUNT(*) AS n,
            ROUND(CAST(SUM(CAST(cos_mu AS DECIMAL(30,16))) AS DOUBLE)
                  / COUNT(*), 6) AS anisotropy,
            ROUND(CAST(SUM(CAST(l2 AS DECIMAL(30,16))) AS DOUBLE)
                  / COUNT(*), 6) AS mean_l2
          FROM per GROUP BY label ORDER BY label"""),

    // ── Per-dimension variance spectrum (effective dimensionality) ──────
    // The diagonal PCA-lite companion of q_embed_anisotropy
    // (Similarity.dimensionVariance): per dim, mean/variance, the dim's
    // share of total variance, and the cumulative share in descending-
    // variance order — where the space's energy lives, read before
    // spending quantization bits or trusting full-dim cosine thresholds.
    Query("q_embed_variance", ((s, dir) =>
      Similarity.dimensionVariance(emb(s, dir), "embedding")
        .orderBy("pos")),
      // Mirror of Similarity.dimensionVariance: decimal moment sums per dim
      // (1-based DuckDB index emitted as the 0-based pos), ONE fixed IEEE
      // variance combine rounded 6, rounded variances re-summed as
      // DECIMAL(28,6) for the total and the (variance DESC, pos) cumsum.
      s"""WITH mom AS (
            SELECT i, COUNT(*) AS n,
              SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,16))) AS sx,
              SUM(CAST(CAST(embedding[i] AS DOUBLE)
                * CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,16))) AS sxx
            FROM embeddings,
              UNNEST(generate_series(1, len(embedding))) AS t(i)
            GROUP BY i),
          stats AS (
            SELECT CAST(i - 1 AS INT) AS pos,
              ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean,
              ROUND((CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n, 6)
                AS variance
            FROM mom),
          tot AS (
            SELECT CAST(SUM(CAST(variance AS DECIMAL(28,6))) AS DOUBLE)
              AS var_total
            FROM stats)
          SELECT pos, mean, variance,
            ROUND(variance / var_total, 6) AS energy_share,
            ROUND(CAST(SUM(CAST(variance AS DECIMAL(28,6)))
                OVER (ORDER BY variance DESC, pos) AS DOUBLE)
              / var_total, 6) AS cum_share
          FROM stats CROSS JOIN tot
          ORDER BY pos"""),

    // ── Top principal direction (distributed power iteration) ───────────
    // The leading PCA axis of the embedding cloud — the direction
    // quantizer design and anisotropy correction both want — computed the
    // scale-native way: the 64×64 Gram matrix from ONE vec_id-keyed
    // self-join of the exploded dims (data-scale), then two power
    // iterations on the dim²-bounded matrix relation. Every step
    // quantizes to fixed decimal scales (Gram cells 6dp, iterates 9dp,
    // norms via exact decimal square sums → one double sqrt), so both
    // engines walk the identical vector — the q_markov_stationary
    // discipline applied to linear algebra. Start vector 1/64 (exact
    // binary); sign is pinned by the start, making the output total.
    Query("q_pca_power", ((s, dir) => {
      val x = emb(s, dir)
        .select(col("vec_id"), posexplode(col("embedding"))
          .as(Seq("i", "xi")))
        .select(col("vec_id"), col("i"), col("xi").cast("double").as("xi"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cMat = x
        .join(x.select(col("vec_id"), col("i").as("j"),
          col("xi").as("xj")), Seq("vec_id"))
        .groupBy(col("i"), col("j"))
        .agg(round(sum((col("xi") * col("xj")).cast("decimal(30,12)"))
          .cast("double"), 6).cast("decimal(18,6)").as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val v0 = cMat.select(col("i").as("dim")).distinct()
        .select(col("dim"),
          lit(new java.math.BigDecimal("0.015625")) // 1/64, exact binary
            .cast("decimal(12,9)").as("v"))
      val v2 = (1 to 2).foldLeft(v0) { (v, _) =>
        val u = cMat.join(v, col("j") === col("dim"))
          .groupBy(col("i"))
          .agg(sum((col("c") * col("v")).cast("decimal(30,15)")).as("u"))
          .select(col("i"),
            round(col("u").cast("double"), 6).cast("decimal(18,6)")
              .as("u"))
        val nrm = u.agg(
          sqrt(sum((col("u") * col("u")).cast("decimal(38,12)"))
            .cast("double")).as("nrm"))
        u.crossJoin(broadcast(nrm)) // 1-row norm
          .select(col("i").as("dim"),
            round(col("u").cast("double") / col("nrm"), 9)
              .cast("decimal(12,9)").as("v"))
      }
      v2.select(col("dim"), col("v").cast("double").as("loading"))
        .orderBy("dim")
    }),
      // two unrolled power steps over the 64×64 Gram CTE, every quantization
      // mirrored (cells 6dp, iterates 9dp, exact decimal square-sum norms).
      s"""WITH x AS (
            SELECT vec_id, CAST(i - 1 AS INT) AS i,
              CAST(embedding[i] AS DOUBLE) AS xi
            FROM embeddings,
              UNNEST(generate_series(1, len(embedding))) AS t(i)),
          c AS (
            SELECT a.i, b.i AS j,
              CAST(ROUND(CAST(SUM(CAST(a.xi * b.xi AS DECIMAL(30,12)))
                AS DOUBLE), 6) AS DECIMAL(18,6)) AS c
            FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2),
          v0 AS (SELECT DISTINCT i AS dim,
              CAST(0.015625 AS DECIMAL(12,9)) AS v FROM c),
          u1 AS (SELECT c.i,
              CAST(ROUND(CAST(SUM(CAST(c.c * v.v AS DECIMAL(30,15)))
                AS DOUBLE), 6) AS DECIMAL(18,6)) AS u
            FROM c JOIN v0 v ON v.dim = c.j GROUP BY 1),
          n1 AS (SELECT sqrt(CAST(SUM(CAST(u*u AS DECIMAL(38,12)))
              AS DOUBLE)) AS nrm FROM u1),
          v1 AS (SELECT i AS dim,
              CAST(ROUND(CAST(u AS DOUBLE) / nrm, 9) AS DECIMAL(12,9)) AS v
            FROM u1 CROSS JOIN n1),
          u2 AS (SELECT c.i,
              CAST(ROUND(CAST(SUM(CAST(c.c * v.v AS DECIMAL(30,15)))
                AS DOUBLE), 6) AS DECIMAL(18,6)) AS u
            FROM c JOIN v1 v ON v.dim = c.j GROUP BY 1),
          n2 AS (SELECT sqrt(CAST(SUM(CAST(u*u AS DECIMAL(38,12)))
              AS DOUBLE)) AS nrm FROM u2),
          v2 AS (SELECT i AS dim,
              CAST(ROUND(CAST(u AS DOUBLE) / nrm, 9) AS DECIMAL(12,9)) AS v
            FROM u2 CROSS JOIN n2)
          SELECT dim, CAST(v AS DOUBLE) AS loading FROM v2 ORDER BY dim"""),

    // ── Effective rank of the embedding spectrum (participation ratio) ──
    // One number for "how many dimensions actually carry energy":
    // (Σλ)²/Σλ² over the per-dim variances q_embed_variance tabulates —
    // 64 for isotropic clouds, →1 for a single dominant axis; the scalar
    // that decides matryoshka budgets and PQ subspace counts. Variances
    // arrive rounded 6dp (the shared dimensionVariance contract), so the
    // two sums accumulate exactly in decimal and one IEEE chain closes.
    Query("q_effective_rank", ((s, dir) => {
      val v = Similarity.dimensionVariance(emb(s, dir), "embedding")
        .select(col("variance").cast("decimal(18,6)").as("v"))
      v.agg(count(lit(1)).as("n_dims"),
          sum(col("v")).as("s1"),
          sum((col("v") * col("v")).cast("decimal(38,12)")).as("s2"))
        .select(col("n_dims"),
          round(col("s1").cast("double"), 6).as("var_total"),
          round(col("s1").cast("double") * col("s1").cast("double")
            / col("s2").cast("double"), 6).as("eff_rank"))
    }),
      // the q_embed_variance moment/variance CTE feeding the participation
      // ratio; rounded variances re-summed exactly in decimal.
      s"""WITH mom AS (
            SELECT i, COUNT(*) AS n,
              SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,16))) AS sx,
              SUM(CAST(CAST(embedding[i] AS DOUBLE)
                * CAST(embedding[i] AS DOUBLE) AS DECIMAL(30,16))) AS sxx
            FROM embeddings,
              UNNEST(generate_series(1, len(embedding))) AS t(i)
            GROUP BY i),
          stats AS (
            SELECT ROUND((CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n, 6)
              AS variance
            FROM mom),
          a AS (SELECT CAST(count(*) AS BIGINT) AS n_dims,
              SUM(CAST(variance AS DECIMAL(18,6))) AS s1,
              SUM(CAST(CAST(variance AS DECIMAL(18,6))
                * CAST(variance AS DECIMAL(18,6)) AS DECIMAL(38,12)))
                AS s2
            FROM stats)
          SELECT n_dims, ROUND(CAST(s1 AS DOUBLE), 6) AS var_total,
            ROUND(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
              / CAST(s2 AS DOUBLE), 6) AS eff_rank
          FROM a"""),

    // ── Train/val centroid drift (dense split-representativeness) ───────
    // Per label: cosine between the train-split and val-split centroids
    // under the SAME deterministic hash split as q_split (salt "split:",
    // keyed on vec_id) — does val measure the region training saw?
    // Labels missing either split drop (Similarity.splitCentroidDrift).
    Query("q_embed_drift", ((s, dir) =>
      Similarity.splitCentroidDrift(emb(s, dir), "label", "embedding",
          when(pmod(Hashes.h60(concat(lit("split:"), col("vec_id"))),
            lit(100L)) < 90, "train")
            .when(pmod(Hashes.h60(concat(lit("split:"), col("vec_id"))),
              lit(100L)) < 95, "val")
            .otherwise("test"))
        .orderBy("label")),
      s"""WITH e AS (
            SELECT label, embedding,
              CASE WHEN ${Hashes.h60Sql("'split:' || vec_id")} % 100 < 90
                     THEN 'train'
                   WHEN ${Hashes.h60Sql("'split:' || vec_id")} % 100 < 95
                     THEN 'val'
                   ELSE 'test' END AS split
            FROM embeddings),
          dims AS (
            SELECT label, split, i,
              ROUND(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                  AS DECIMAL(30,16))) AS DOUBLE) / COUNT(*), 6) AS m
            FROM e, UNNEST(generate_series(1, len(embedding))) AS t(i)
            GROUP BY label, split, i),
          cnt AS (SELECT label, split, count(*) AS n
                  FROM e GROUP BY label, split),
          mu AS (
            SELECT label, split, list(m ORDER BY i) AS mu
            FROM dims GROUP BY label, split),
          tr AS (SELECT label, mu AS mu_t, n AS n_train
                 FROM mu JOIN cnt USING (label, split) WHERE split = 'train'),
          va AS (SELECT label, mu AS mu_v, n AS n_val
                 FROM mu JOIN cnt USING (label, split) WHERE split = 'val')
          SELECT label, n_train, n_val,
            ROUND(CAST(${dotSql("mu_t", "mu_v")} AS DOUBLE)
              / (sqrt(CAST(${dotSql("mu_t", "mu_t")} AS DOUBLE))
                 * sqrt(CAST(${dotSql("mu_v", "mu_v")} AS DOUBLE))), 6)
              AS cos_drift,
            ROUND(sqrt(CAST(${dotSql("mu_t", "mu_t")} AS DOUBLE))
              - sqrt(CAST(${dotSql("mu_v", "mu_v")} AS DOUBLE)), 6)
              AS norm_gap
          FROM tr JOIN va USING (label) ORDER BY label"""),

    // Brute-force cosine top-k for a small probe set (the baseline).
    Query("q_knn_brute", ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKNeighbors(e.where(col("vec_id") < 5), e, K)
        .orderBy("probe_id", "rank")
    }),
      s"""WITH pairs AS (
            SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
              ${cosineSql("p.embedding", "c.embedding")} AS cosine
            FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
            WHERE p.vec_id < 5),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY cosine DESC, cand_id ASC) AS rank
            FROM pairs)
          SELECT probe_id, cand_id, cosine, CAST(rank AS INT) AS rank
          FROM ranked WHERE rank <= $K ORDER BY probe_id, rank"""),

    // LSH-bucketed top-k (the scale path): sign-hyperplane signatures,
    // multiprobe Hamming-1 bucket visit, exact cosine on candidates only.
    Query("q_knn_lsh", ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKNeighborsLsh(e.where(col("vec_id") < 5), e, K, NBits)
        .orderBy("probe_id", "rank")
    }),
      s"""WITH sig AS (
            SELECT vec_id, embedding, ${bucketSql("embedding", NBits)} AS b0
            FROM embeddings),
          probes AS (
            SELECT vec_id AS probe_id, embedding AS pv, unnest(
              [b0] || list_transform(generate_series(0, ${NBits - 1}),
                                     i -> xor(b0, 1::BIGINT << i))) AS bucket
            FROM sig WHERE vec_id < 5),
          cands AS (
            SELECT DISTINCT probe_id, pv, s.vec_id AS cand_id, s.embedding AS cv
            FROM probes JOIN sig s ON probes.bucket = s.b0
            WHERE probe_id <> s.vec_id),
          scored AS (
            SELECT probe_id, cand_id, ${cosineSql("pv", "cv")} AS cosine
            FROM cands),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY cosine DESC, cand_id ASC) AS rank
            FROM scored)
          SELECT probe_id, cand_id, cosine, CAST(rank AS INT) AS rank
          FROM ranked WHERE rank <= $K ORDER BY probe_id, rank"""),

    // Result-list diversification: brute-force top-30 for probe 0, then
    // drop any result whose cosine to a higher-ranked result ≥ 0.25
    // (Retrieval.diversify — the join-form MMR relaxation). Surviving
    // rows keep their ORIGINAL rank, so the gate sees exactly which
    // results were suppressed. The O(k²) self-join is over the top-k cut
    // (30 rows), corpus-size-independent.
    Query("q_rank_diversify", ((s, dir) => {
      val e = emb(s, dir)
      val top = Similarity.topKNeighbors(e.where(col("vec_id") === 0), e, 30)
      // Persist the 30-row cut: diversify references it three times
      // (survivor side, higher-ranked side, anti-join) and without a
      // persist each reference re-runs the full brute-force cosine scan —
      // the corpus-sized part of the plan (q_decontam_bloom pattern).
      val ranked = e.join(broadcast(top), col("vec_id") === col("cand_id"))
        .select(col("cand_id").as("id"), col("rank"),
          col("embedding").as("vec"), col("cosine"))
        .persist()
      Retrieval.diversify(ranked, threshold = 0.25)
        .select(col("id"), col("rank").cast("int").as("rank"), col("cosine"))
        .orderBy("rank")
    }),
      // Brute-force top-30 for probe 0, then NOT EXISTS a higher-ranked
      // result with cosine ≥ 0.25 — the all-pairs mirror of
      // Retrieval.diversify (valid at fixture scale; both sides compare
      // the same 6-rounded cosine, so the threshold cannot ulp-flip).
      s"""WITH dpairs AS (
            SELECT c.vec_id AS id, c.embedding AS vec,
              ${cosineSql("p.embedding", "c.embedding")} AS cosine
            FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
            WHERE p.vec_id = 0),
          ranked AS (
            SELECT id, vec, cosine,
              row_number() OVER (ORDER BY cosine DESC, id) AS rk
            FROM dpairs),
          topn AS (SELECT * FROM ranked WHERE rk <= 30),
          hi AS (SELECT r.id AS rid, ${cosineSql("h.vec", "r.vec")} AS hc
                 FROM topn r JOIN topn h ON h.rk < r.rk),
          suppr AS (SELECT DISTINCT rid FROM hi WHERE hc >= 0.25)
          SELECT t.id, CAST(t.rk AS INT) AS rank, t.cosine FROM topn t
          LEFT JOIN suppr ON t.id = suppr.rid WHERE suppr.rid IS NULL
          ORDER BY rank"""),

    // ── Product-quantization codes (the IVF-PQ compression backbone) ────
    // 64-dim vectors → 8 sub-vectors, each encoded as its nearest of 16
    // codebook entries by exact-decimal squared L2 (Quantization.pqCodes):
    // codebook = the 16 lowest-vec_id vectors (the kmeans seed contract)
    // folded to one broadcast array row, assignment a narrow per-row
    // argmin. codes + the mean squared residual per vector.
    Query("q_pq_codes", ((s, dir) =>
      graft.ops.Quantization.pqCodes(emb(s, dir), nCodes = 16, m = 8, dim = 64)
        .orderBy("vec_id")),
      // d² = xx − 2·xc + cc with each dot the shared decimal fold cast to
      // double — the identical IEEE chain the engine runs; ties to the
      // lower code, residual sum in DECIMAL(28,6) over the 6-rounded d².
      // PqCte is shared verbatim with q_pq_adc so codes and lookup tables
      // cannot drift from the assignment gate.
      s"""WITH $PqCte
          SELECT vec_id,
            string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS codes,
            ROUND(CAST(sum(CAST(d2 AS DECIMAL(28,6))) AS DOUBLE) / 64, 6)
              AS mse
          FROM best WHERE rn = 1
          GROUP BY vec_id ORDER BY vec_id"""),

    // ── PQ-ADC top-k search (how the compressed index is queried) ───────
    // Per probe (vec_id < 5): one m×nCodes exact lookup table; each corpus
    // vector's approximate d² is m TABLE LOOKUPS on its stored codes — the
    // embeddings are never touched at query time (Quantization.pqAdcTopK,
    // LUT equi-joined to the exploded codes on (sub, code)). exact_d2
    // rides along per ranked pair: the quantization-error audit.
    Query("q_pq_adc", ((s, dir) => {
      val e = emb(s, dir)
      graft.ops.Quantization.pqAdcTopK(e.where(col("vec_id") < 5), e,
          nCodes = 16, m = 8, dim = 64, k = K)
        .orderBy("probe_id", "rank")
    }),
      // codes = best(rn=1); the probe-side rows of the SAME scored relation
      // are the lookup table; approximate d² = decimal-exact sum of m
      // lookups; ground-truth exact_d2 joined back per ranked pair.
      s"""WITH $PqCte,
          codes AS (
            SELECT vec_id AS cand_id, sub, code FROM best WHERE rn = 1),
          lut AS (
            SELECT vec_id AS probe_id, sub, code, d2 FROM scored
            WHERE vec_id < 5),
          adc AS (
            SELECT probe_id, cand_id,
              CAST(sum(CAST(d2 AS DECIMAL(28,6))) AS DOUBLE) AS approx_d2
            FROM codes JOIN lut USING (sub, code)
            WHERE probe_id <> cand_id
            GROUP BY 1, 2),
          rankd AS (
            SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY approx_d2 ASC, cand_id ASC) AS rank
            FROM adc)
          SELECT r.probe_id, r.cand_id, r.approx_d2,
            ROUND(CAST(${dotSql("p.embedding", "p.embedding")} AS DOUBLE)
              - 2 * CAST(${dotSql("p.embedding", "c.embedding")} AS DOUBLE)
              + CAST(${dotSql("c.embedding", "c.embedding")} AS DOUBLE), 6)
              AS exact_d2,
            CAST(rank AS INT) AS rank
          FROM rankd r
          JOIN embeddings p ON r.probe_id = p.vec_id
          JOIN embeddings c ON r.cand_id = c.vec_id
          WHERE rank <= $K ORDER BY probe_id, rank"""),

    // ── Per-source embedding centroid profile (modality-crossing) ───────
    // Each source's mean vector profiled against the global centroid
    // (Similarity.groupCentroidProfile; source rides from documents on
    // vec_id ≡ doc_id): centroid_l2 near zero = incoherent mix,
    // cos_to_global low = embedding-space outlier source — the dense
    // dataset-card row next to the lexical q_source_overlap.
    Query("q_source_centroid", ((s, dir) =>
      Similarity.groupCentroidProfile(
          emb(s, dir).join(
            Tables.parTable(s, dir, "documents")
              .select(col("doc_id").as("vec_id"), col("source")),
            Seq("vec_id")),
          "source", "embedding")
        .orderBy("source")),
      // the q_embed_drift mu algebra per source + one global centroid.
      s"""WITH e AS (
            SELECT d.source, emb.embedding
            FROM embeddings emb
            JOIN documents d ON emb.vec_id = d.doc_id),
          dims AS (
            SELECT source, i,
              ROUND(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                  AS DECIMAL(30,16))) AS DOUBLE) / COUNT(*), 6) AS m
            FROM e, UNNEST(generate_series(1, len(embedding))) AS t(i)
            GROUP BY source, i),
          gdims AS (
            SELECT i,
              ROUND(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                  AS DECIMAL(30,16))) AS DOUBLE) / COUNT(*), 6) AS gm
            FROM e, UNNEST(generate_series(1, len(embedding))) AS t(i)
            GROUP BY i),
          mu AS (SELECT source, list(m ORDER BY i) AS mu
                 FROM dims GROUP BY source),
          gmu AS (SELECT list(gm ORDER BY i) AS gmu FROM gdims),
          cnt AS (SELECT source, count(*) AS n FROM e GROUP BY source)
          SELECT m2.source, cnt.n,
            ROUND(sqrt(CAST(${dotSql("mu", "mu")} AS DOUBLE)), 6)
              AS centroid_l2,
            ROUND(CAST(${dotSql("mu", "gmu")} AS DOUBLE)
              / (sqrt(CAST(${dotSql("mu", "mu")} AS DOUBLE))
                * sqrt(CAST(${dotSql("gmu", "gmu")} AS DOUBLE))), 6)
              AS cos_to_global
          FROM mu m2 JOIN cnt USING (source) CROSS JOIN gmu
          ORDER BY source"""),

    // ── ANN recall curve: LSH top-k vs brute truth at k ∈ {1,5,10} ──────
    // The eval every approximate index publishes: per cut depth, how much
    // of the exact top-k the LSH path recovers. One keyed join of the two
    // ranked cuts (≤ 50 rows each), one conditional aggregate, unpivoted
    // to a row per k — both rankers are the existing gated paths.
    Query("q_ann_recall", ((s, dir) => {
      val e = emb(s, dir)
      val probes = e.where(col("vec_id") < 5)
      val brute = Similarity.topKNeighbors(probes, e, K)
        .select(col("probe_id"), col("cand_id"), col("rank").as("rank_b"))
      val lsh = Similarity.topKNeighborsLsh(probes, e, K, NBits)
        .select(col("probe_id"), col("cand_id"), col("rank").as("rank_l"))
      val joined = brute.join(lsh, Seq("probe_id", "cand_id"))
      def hits(kk: Int) = sum(when(col("rank_b") <= kk &&
        col("rank_l") <= kk, 1L).otherwise(0L))
      val agg = joined.agg(hits(1).as("h1"), hits(5).as("h5"),
        hits(10).as("h10"))
      agg.select(explode(array(Seq(1, 5, 10).map { kk =>
          struct(lit(kk).as("k"), col(s"h$kk").as("n_hit"),
            round(col(s"h$kk").cast("double") / lit(5.0 * kk), 6)
              .as("recall"))
        }: _*)).as("r"))
        .select(col("r.*"))
        .orderBy("k")
    }),
      // brute pairs (q_knn_brute CTE) + lsh pairs (q_knn_lsh CTE) joined on
      // (probe, cand); conditional counts per cut depth.
      s"""WITH bpairs AS (
            SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
              ${cosineSql("p.embedding", "c.embedding")} AS cosine
            FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
            WHERE p.vec_id < 5),
          branked AS (
            SELECT probe_id, cand_id, row_number() OVER (PARTITION BY probe_id
              ORDER BY cosine DESC, cand_id ASC) AS rank_b
            FROM bpairs),
          sig AS (
            SELECT vec_id, embedding, ${bucketSql("embedding", NBits)} AS b0
            FROM embeddings),
          lprobes AS (
            SELECT vec_id AS probe_id, embedding AS pv, unnest(
              [b0] || list_transform(generate_series(0, ${NBits - 1}),
                                     i -> xor(b0, 1::BIGINT << i))) AS bucket
            FROM sig WHERE vec_id < 5),
          lcands AS (
            SELECT DISTINCT probe_id, pv, s.vec_id AS cand_id, s.embedding AS cv
            FROM lprobes JOIN sig s ON lprobes.bucket = s.b0
            WHERE probe_id <> s.vec_id),
          lranked AS (
            SELECT probe_id, cand_id, row_number() OVER (PARTITION BY probe_id
              ORDER BY ${cosineSql("pv", "cv")} DESC, cand_id ASC) AS rank_l
            FROM lcands),
          j AS (
            SELECT b.probe_id, b.cand_id, b.rank_b, l.rank_l
            FROM branked b JOIN lranked l USING (probe_id, cand_id)
            WHERE b.rank_b <= $K AND l.rank_l <= $K),
          h AS (
            SELECT
              SUM(CASE WHEN rank_b <= 1 AND rank_l <= 1 THEN 1 ELSE 0 END)
                AS h1,
              SUM(CASE WHEN rank_b <= 5 AND rank_l <= 5 THEN 1 ELSE 0 END)
                AS h5,
              SUM(CASE WHEN rank_b <= 10 AND rank_l <= 10 THEN 1 ELSE 0 END)
                AS h10
            FROM j)
          SELECT 1 AS k, CAST(h1 AS BIGINT) AS n_hit,
            ROUND(CAST(h1 AS DOUBLE) / 5.0, 6) AS recall FROM h
          UNION ALL
          SELECT 5, CAST(h5 AS BIGINT),
            ROUND(CAST(h5 AS DOUBLE) / 25.0, 6) FROM h
          UNION ALL
          SELECT 10, CAST(h10 AS BIGINT),
            ROUND(CAST(h10 AS DOUBLE) / 50.0, 6) FROM h
          ORDER BY k"""),

    // ── IVF-PQ top-k (the full modern ANN stack, composed) ──────────────
    // Voronoi cells (deterministic lowest-id seeds, the q_kmeans_assign
    // contract) route each probe to its 2 best cells; the PQ-ADC
    // lookup-table scan runs over those cells' codes only
    // (Quantization.ivfPqTopK). Every join keyed; exact_d2 audits each
    // ranked pair. The oracle composes the SemPairs seed chain and PqCte.
    Query("q_ivfpq", ((s, dir) => {
      val e = emb(s, dir)
      graft.ops.Quantization.ivfPqTopK(e.where(col("vec_id") < 5), e,
          nSeeds = NSeeds, nProbeCells = 2, nCodes = 16, m = 8, dim = 64,
          k = K)
        .orderBy("probe_id", "rank")
    }),
      // PqCte + the SemPairs-style Voronoi chain (vseeds/vassigned named to
      // avoid PqCte's seeds): probe visits its 2 best cells by the SAME
      // rounded cosine the assignment ranks with; ADC over those cells only.
      s"""WITH $PqCte,
          vseeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
              embedding AS sv
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $NSeeds)),
          vscored AS (
            SELECT e.vec_id, s.cell,
              ${cosineSql("e.embedding", "s.sv")} AS cos
            FROM embeddings e CROSS JOIN vseeds s),
          vassigned AS (
            SELECT vec_id AS cand_id, cell FROM (
              SELECT vec_id, cell, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
              FROM vscored)
            WHERE rn = 1),
          pcells AS (
            SELECT vec_id AS probe_id, cell FROM (
              SELECT vec_id, cell, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
              FROM vscored WHERE vec_id < 5)
            WHERE rn <= 2),
          codes AS (
            SELECT b.vec_id AS cand_id, a.cell, b.sub, b.code
            FROM best b JOIN vassigned a ON b.vec_id = a.cand_id
            WHERE b.rn = 1),
          lut AS (
            SELECT vec_id AS probe_id, sub, code, d2 FROM scored
            WHERE vec_id < 5),
          adc AS (
            SELECT c.probe_id, codes.cand_id, codes.cell,
              CAST(sum(CAST(l.d2 AS DECIMAL(28,6))) AS DOUBLE) AS approx_d2
            FROM codes
            JOIN pcells c ON codes.cell = c.cell
            JOIN lut l ON l.probe_id = c.probe_id
                      AND l.sub = codes.sub AND l.code = codes.code
            WHERE c.probe_id <> codes.cand_id
            GROUP BY 1, 2, 3),
          rankd AS (
            SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY approx_d2 ASC, cand_id ASC) AS rank
            FROM adc)
          SELECT r.probe_id, r.cand_id, r.cell, r.approx_d2,
            ROUND(CAST(${dotSql("p.embedding", "p.embedding")} AS DOUBLE)
              - 2 * CAST(${dotSql("p.embedding", "c.embedding")} AS DOUBLE)
              + CAST(${dotSql("c.embedding", "c.embedding")} AS DOUBLE), 6)
              AS exact_d2,
            CAST(rank AS INT) AS rank
          FROM rankd r
          JOIN embeddings p ON r.probe_id = p.vec_id
          JOIN embeddings c ON r.cand_id = c.vec_id
          WHERE rank <= $K ORDER BY probe_id, rank"""),

    // ── 1-NN label accuracy (embedding-quality eval) ────────────────────
    // Leave-one-out: every vector probes the LSH index (same sign-bit
    // buckets + Hamming-1 multiprobe as q_knn_lsh — the SCALE path, a
    // keyed bucket join, never all-pairs) for its nearest in-bucket
    // neighbor; per-label agreement rate between the probe's label and
    // its neighbor's. The metric that says whether the embedding space
    // separates the label structure — and whether LSH-bucketed semantic
    // dedup can be trusted on it. Probes are the deterministic 20%
    // id-stride sample (vec_id ≡ 0 mod 5): an accuracy estimate needs a
    // sample, not every vector — the candidate side stays the FULL corpus
    // (measured 19.5 s → ~4 s at sf0.1 for the same per-label estimate).
    // Probes whose multiprobe buckets hold no other vector drop (n_eval
    // counts evaluated probes, the contract the oracle mirrors).
    Query("q_knn_accuracy", ((s, dir) =>
      knnAccuracyRelation(s, dir)
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n_eval"), 6))
        .orderBy("label")),
      // q_knn_lsh's sig/probes/cands/scored/ranked CTE chain with the 20%
      // id-stride probe sample and rank = 1, then label agreement per label
      // (KnnAccCte — shared verbatim with q_knn_ci).
      s"""WITH ${knnAccCte(NBits)}
          SELECT label, n_eval, n_correct,
            ROUND(CAST(n_correct AS DOUBLE) / n_eval, 6) AS accuracy
          FROM acc ORDER BY label"""),

    // ── 1-NN accuracy with Wilson 95% intervals (eval rigor) ────────────
    // The same per-label agreement relation, with closed-form Wilson
    // score bounds — the honest way to read a sampled eval (a 0.9 on 10
    // probes and a 0.9 on 10k probes are different claims). z = 1.96 as
    // an explicit DOUBLE literal in both engines (a bare DuckDB decimal
    // literal would square exactly where doubles don't — the q_bm25
    // pitfall), every operation one fixed IEEE chain.
    Query("q_knn_ci", ((s, dir) => {
      val z = lit(1.96)
      val z2 = z * z
      val nn = col("n_eval").cast("double")
      val p = col("n_correct").cast("double") / nn
      val denom = lit(1.0) + z2 / nn
      val center = (p + z2 / (lit(2.0) * nn)) / denom
      val half = z * sqrt(p * (lit(1.0) - p) / nn +
        z2 / (lit(4.0) * nn * nn)) / denom
      knnAccuracyRelation(s, dir)
        .select(col("label"), col("n_eval"), col("n_correct"),
          round(p, 6).as("accuracy"),
          // + 0.0 normalizes IEEE −0.0 (DuckDB's double ROUND keeps the
          // sign bit on a tiny negative; Spark's drops it)
          (round(center - half, 6) + lit(0.0)).as("ci_lo"),
          (round(center + half, 6) + lit(0.0)).as("ci_hi"))
        .orderBy("label")
    }),
      // Wilson 95% over the SAME acc relation; 1.96 as an explicit DOUBLE
      // (a bare DuckDB decimal literal squares exactly where doubles don't)
      // and every arithmetic step textually mirrors the engine's chain.
      s"""WITH ${knnAccCte(NBits)}
          SELECT label, n_eval, n_correct,
            ROUND(CAST(n_correct AS DOUBLE) / CAST(n_eval AS DOUBLE), 6)
              AS accuracy,
            ROUND(((CAST(n_correct AS DOUBLE) / CAST(n_eval AS DOUBLE))
                + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                  / (2.0 * CAST(n_eval AS DOUBLE)))
              / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                  / CAST(n_eval AS DOUBLE))
              - CAST(1.96 AS DOUBLE) * sqrt(
                  (CAST(n_correct AS DOUBLE) / CAST(n_eval AS DOUBLE))
                    * (1.0 - CAST(n_correct AS DOUBLE)
                        / CAST(n_eval AS DOUBLE))
                    / CAST(n_eval AS DOUBLE)
                  + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                    / (4.0 * CAST(n_eval AS DOUBLE)
                        * CAST(n_eval AS DOUBLE)))
                / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                    / CAST(n_eval AS DOUBLE)), 6) + 0.0 AS ci_lo,
            ROUND(((CAST(n_correct AS DOUBLE) / CAST(n_eval AS DOUBLE))
                + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                  / (2.0 * CAST(n_eval AS DOUBLE)))
              / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                  / CAST(n_eval AS DOUBLE))
              + CAST(1.96 AS DOUBLE) * sqrt(
                  (CAST(n_correct AS DOUBLE) / CAST(n_eval AS DOUBLE))
                    * (1.0 - CAST(n_correct AS DOUBLE)
                        / CAST(n_eval AS DOUBLE))
                    / CAST(n_eval AS DOUBLE)
                  + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                    / (4.0 * CAST(n_eval AS DOUBLE)
                        * CAST(n_eval AS DOUBLE)))
                / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                    / CAST(n_eval AS DOUBLE)), 6) + 0.0 AS ci_hi
          FROM acc ORDER BY label"""),

    // ── 1-NN accuracy on the PRODUCTION AutoBits index (scale form) ─────
    // The same per-label agreement relation as q_knn_accuracy, built on
    // the occupancy-bounded `Similarity.AutoBits` bucket sizing — the
    // form the 100× probes proved sub-linear (2.32× cold at 100× data,
    // BASELINE.md r17) where the oracle-pinned 8-bit form is ~quadratic.
    // Deliberately oracle-less (VERDICT r17 #6): the adaptive bit count
    // is ⌈log₂N⌉+2 resolved from a runtime corpus count, which a static
    // DuckDB SQL literal cannot express — the driver records the rows>0
    // check, and SimilaritySpec gates the substance (AutoBits per-label
    // accuracy ≥ the pinned-8-bit form's on the same fixture, both
    // deterministic). The streaming tier set the spec-gating precedent.
    Query("q_knn_auto", ((s, dir) =>
      knnAccuracyRelation(s, dir, Similarity.AutoBits)
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n_eval"), 6))
        .orderBy("label"))),

    // ── Oracle-expressible twin of q_knn_auto (VERDICT r18 #7) ──────────
    // The SAME relation/code path with the bit count PINNED at
    // [[PinBits]] — the value Similarity.scaledNBits resolves at the
    // sf0.1 bench fixture (⌈log₂ 2000⌉ + 2 = 13; minBits 12) — so the
    // production-geometry bucket chain has an independent DuckDB check
    // and drift in the signBits/multiprobe machinery is caught by hash,
    // not only by SimilaritySpec. q_knn_auto itself stays spec-gated
    // (its adaptive count is a runtime corpus statistic, inexpressible
    // as a static SQL literal).
    Query("q_knn_auto_pin", ((s, dir) =>
      knnAccuracyRelation(s, dir, PinBits)
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n_eval"), 6))
        .orderBy("label")),
      // the q_knn_auto twin: identical chain at the pinned production
      // geometry (PinBits) — see the query comment
      s"""WITH ${knnAccCte(PinBits)}
          SELECT label, n_eval, n_correct,
            ROUND(CAST(n_correct AS DOUBLE) / n_eval, 6) AS accuracy
          FROM acc ORDER BY label"""),

    // Embedding-cosine near-dup: bucket-collision pairs over threshold.
    // (Fixture vectors are near-random — max pairwise cosine ≈ 0.51 — so a
    // low threshold keeps the gated result non-trivial.)
    Query("q_embed_neardup", ((s, dir) =>
      Similarity.embeddingNearDups(emb(s, dir), threshold = 0.3, NBits)
        .orderBy("id_a", "id_b")),
      s"""WITH sig AS (
            SELECT vec_id, embedding, ${bucketSql("embedding", NBits)} AS b0
            FROM embeddings)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            ${cosineSql("a.embedding", "b.embedding")} AS cosine
          FROM sig a JOIN sig b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
          WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.3
          ORDER BY id_a, id_b"""),

    // Per-vector symmetric int8 quantization (Quantization): codes,
    // scale, and reconstruction-error metrics, plus the error bound as a
    // boolean both engines must agree is TRUE (the q_agg_approx gating
    // pattern). Narrow map pass — the 4× storage lever for a 100 TB
    // vector corpus. floor(x/s + 0.5) rounding on purpose: floor is
    // engine-portable where ROUND's halfway rule is not.
    Query("q_embed_quant", ((s, dir) => {
      import graft.ops.Quantization
      val e = emb(s, dir)
        .withColumn("scale", Quantization.int8Scale(col("embedding")))
        .withColumn("q", Quantization.quantizeInt8(col("embedding"), col("scale")))
      e.select(col("vec_id"),
          round(col("scale"), 9).as("scale_r"),
          array_join(col("q"), ",").as("codes"),
          round(Quantization.maxAbsError(col("embedding"), col("q"), col("scale")), 9)
            .as("max_err"),
          round(Quantization.mse(col("embedding"), col("q"), col("scale")), 12)
            .as("mse"),
          (Quantization.maxAbsError(col("embedding"), col("q"), col("scale"))
            <= col("scale") / 2 + 1e-12).as("within_bound"))
        .orderBy("vec_id")
    }),
      s"""WITH s AS (
            SELECT vec_id, embedding,
              list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
            FROM embeddings),
          q AS (
            SELECT vec_id, embedding, scale,
              CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
                   ELSE list_transform(embedding, x ->
                     CAST(greatest(-127, least(127,
                       floor(CAST(x AS DOUBLE) / scale + 0.5))) AS INT))
              END AS qv
            FROM s),
          e AS (
            SELECT vec_id, scale, qv,
              list_transform(generate_series(1, len(embedding)),
                i -> abs(CAST(embedding[i] AS DOUBLE)
                         - CAST(qv[i] AS DOUBLE) * scale)) AS errs,
              list_transform(generate_series(1, len(embedding)),
                i -> CAST((CAST(embedding[i] AS DOUBLE)
                           - CAST(qv[i] AS DOUBLE) * scale)
                          * (CAST(embedding[i] AS DOUBLE)
                             - CAST(qv[i] AS DOUBLE) * scale)
                          AS DECIMAL(30,16))) AS sqe
            FROM q)
          SELECT vec_id, ROUND(scale, 9) AS scale_r,
            array_to_string(qv, ',') AS codes,
            ROUND(list_max(errs), 9) AS max_err,
            ROUND(CAST(list_sum(sqe) AS DOUBLE) / len(errs), 12) AS mse,
            list_max(errs) <= scale / 2 + 1e-12 AS within_bound
          FROM e ORDER BY vec_id"""),

    // SemDeDup-style semantic dedup: assign to nearest-seed Voronoi cell
    // (8 lowest-id seeds — the kmeans seeding), cosine-pair search WITHIN
    // cells only. The oracle replays assignment (argmax rounded cosine,
    // ties to lower cell) and the within-cell pair scan all-pairs at
    // fixture scale; the engine plan is the cell-partitioned self-join.
    // Threshold 0.3 for the same reason as q_embed_neardup: fixture
    // vectors are near-random (max pairwise cosine ≈ 0.51).
    Query("q_semdedup", ((s, dir) =>
      Similarity.semDedupPairs(emb(s, dir), nSeeds = NSeeds, threshold = 0.3)
        .orderBy("id_a", "id_b")),
      s"""WITH $SemPairsCte
          SELECT cell, id_a, id_b, cosine FROM pairs
          ORDER BY id_a, id_b"""),

    // ── SemDeDup threshold calibration sweep ─────────────────────────────
    // One q_semdedup pair relation, read at four thresholds: pairs, docs
    // removed under keep-smallest-id, removal rate — the table that picks
    // the threshold before a corpus-scale semantic dedup commits to one
    // (Similarity.semDedupRate).
    Query("q_semdedup_rate", ((s, dir) =>
      Similarity.semDedupRate(emb(s, dir), nSeeds = NSeeds,
          thresholds = SemThresholds)
        .orderBy("threshold")), {
      // Shared pairs CTE with q_semdedup (the mirrors cannot drift); per
      // grid threshold, pair count / distinct removed id_b / corpus rate.
      val branches = SemThresholds.sorted.map { t =>
        s"""SELECT CAST($t AS DOUBLE) AS threshold,
              CAST(SUM(CASE WHEN cosine >= $t THEN 1 ELSE 0 END) AS BIGINT)
                AS n_pairs,
              CAST(count(DISTINCT CASE WHEN cosine >= $t THEN id_b END)
                AS BIGINT) AS n_removed,
              ROUND(CAST(count(DISTINCT CASE WHEN cosine >= $t THEN id_b END)
                  AS DOUBLE) / (SELECT n_total FROM tot), 6) AS removal_rate
            FROM pairs"""
      }.mkString("\nUNION ALL\n")
      s"""WITH $SemPairsCte,
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total
                  FROM embeddings)
          $branches
          ORDER BY threshold"""
    }),

    // One Lloyd ASSIGNMENT round of the IVF k-means, mirrored bit-for-bit
    // in DuckDB (VERDICT r03 #3's other half, complementing q_knn_ivf's
    // recall gate): seeds are the nSeeds lowest-id vectors; every corpus
    // vector joins the cell whose seed maximizes the ROUNDED decimal-exact
    // cosine (ties → lower cell index); the gate emits per-cell membership
    // counts and the decimal-exact mean of dimension 1 — i.e. both halves
    // of a Lloyd step (argmax assignment, per-cell mean) as a relational
    // result. Seed norms are computed by the engine's own decimal pipeline
    // (sqrt of norm2Exact), the same expression family the oracle's
    // cosineSql proves portable.
    Query("q_kmeans_assign", ((s, dir) => {
      val e = emb(s, dir)
      // shared deterministic assignment (seeds stay a broadcast relation,
      // row norm hoisted so the decimal fold runs once per row)
      Similarity.assignToSeeds(e, Similarity.seedsRelation(e, NSeeds))
        .select(col("cell"), col("seed_id"),
          element_at(col("embedding"), 1).as("d1"))
        .groupBy("cell", "seed_id")
        .agg(count(lit(1)).as("n_members"),
          round(sum(col("d1").cast("double").cast("decimal(30,16)"))
            .cast("double") / count(lit(1)), 6).as("mean_d1"))
        .orderBy("cell")
    }),
      s"""WITH seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
              vec_id AS seed_id, embedding AS sv
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $NSeeds)),
          scored AS (
            SELECT e.vec_id, s.cell, s.seed_id,
              ${cosineSql("e.embedding", "s.sv")} AS cos
            FROM embeddings e CROSS JOIN seeds s),
          assigned AS (
            SELECT vec_id, cell, seed_id, row_number() OVER (
              PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
            FROM scored)
          SELECT cell, seed_id, count(*) AS n_members,
            ROUND(CAST(SUM(CAST(CAST(e.embedding[1] AS DOUBLE)
                               AS DECIMAL(30,16))) AS DOUBLE) / count(*), 6)
              AS mean_d1
          FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
          WHERE rn = 1
          GROUP BY cell, seed_id ORDER BY cell"""),

    // ── Voronoi-cell label purity (cluster-curation quality) ────────────
    // For each deterministic seed cell (the SemDeDup/kmeans assignment):
    // member count, majority label, and purity = majority share — the
    // "are these cells meaningful" gate run before trusting cell-scoped
    // dedup or cluster-balanced sampling. Assignment reuses
    // Similarity.assignToSeeds (seeds broadcast); the label ride-along is
    // one doc-key join; everything after is ≤ cells·labels rows.
    Query("q_cluster_purity", ((s, dir) => {
      val e = emb(s, dir)
      val members = Similarity
        .assignToSeeds(e, Similarity.seedsRelation(e, NSeeds))
        .select(col("vec_id"), col("cell"))
        .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      Similarity.cellPurity(members, "cell", "label").orderBy("cell")
    }),
      // Same seeds/scored/assigned CTEs as q_kmeans_assign, then per-cell
      // label counts → majority share.
      s"""WITH seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
              vec_id AS seed_id, embedding AS sv
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT $NSeeds)),
          scored AS (
            SELECT e.vec_id, s.cell,
              ${cosineSql("e.embedding", "s.sv")} AS cos
            FROM embeddings e CROSS JOIN seeds s),
          assigned AS (
            SELECT vec_id, cell, row_number() OVER (
              PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
            FROM scored),
          counts AS (
            SELECT a.cell, e.label, count(*) AS c
            FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
            WHERE a.rn = 1 GROUP BY a.cell, e.label),
          tot AS (
            SELECT cell, CAST(SUM(c) AS BIGINT) AS n_members
            FROM counts GROUP BY cell),
          best AS (
            SELECT cell, label, c, row_number() OVER (
              PARTITION BY cell ORDER BY c DESC, label ASC) AS rn
            FROM counts)
          SELECT b.cell, b.label AS majority_label, t.n_members,
            ROUND(CAST(b.c AS DOUBLE) / t.n_members, 6) AS purity
          FROM best b JOIN tot t ON b.cell = t.cell
          WHERE b.rn = 1 ORDER BY b.cell"""),

    // FastSS edit-distance-1 similarity join over part names: deletion-
    // neighborhood blocking (exact recall for d ≤ 1) + Levenshtein
    // verify — the entity-resolution member of the candidates→verify
    // family. The oracle is the all-pairs Levenshtein join, affordable
    // only at fixture scale — exactly the quadratic the blocking buys
    // away.
    Query("q_fuzzy_join", ((s, dir) =>
      graft.ops.StringSim.editDistance1Pairs(
          Tables.parTable(s, dir, "part"), "p_name")
        .orderBy("name_a", "name_b")),
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part
                    WHERE p_name IS NOT NULL)
          SELECT a.name AS name_a, b.name AS name_b,
            CAST(levenshtein(a.name, b.name) AS INT) AS dist
          FROM n a JOIN n b ON a.name < b.name
          WHERE levenshtein(a.name, b.name) <= 1
          ORDER BY name_a, name_b"""),

    // ── Per-dimension AUC screening (which dims separate a label) ───────
    // Feature-importance triage before any model: each embedding
    // dimension scored as a 1-D classifier for label 0 via the exact
    // Mann–Whitney/AUC identity (doubled midranks — same integer
    // discipline as q_mannwhitney, here with REAL per-dim window
    // partitions). One posexplode (64× fan), grouped rank sums, top-10
    // dims by |AUC − ½|. Near-0.5 AUCs on this fixture honestly read
    // "labels are geometry-free" — the screen's null result.
    Query("q_dim_auc", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val ex = emb(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        .select(col("pos").as("dim"), col("col").as("v"),
          when(col("label") === 0, 1L).otherwise(0L).as("is0"))
      val perVal = ex.groupBy(col("dim"), col("v"))
        .agg(sum(col("is0")).as("d1"),
          sum(lit(1L) - col("is0")).as("d2"))
      val wCum = W.partitionBy(col("dim")).orderBy(col("v"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val stats = perVal
        .select(col("dim"), col("d1"), col("d2"),
          sum(col("d1")).over(wCum).as("c1"),
          sum(col("d2")).over(wCum).as("c2"))
        .select(col("dim"), col("c1"), col("c2"),
          (col("d1") * (col("c1") + col("c2") - (col("d1") + col("d2"))
            + 1L + col("c1") + col("c2"))).as("r1x2t"))
        .groupBy(col("dim"))
        .agg(max(col("c1")).as("n_a"), max(col("c2")).as("n_b"),
          sum(col("r1x2t")).as("r1x2"))
      val u2 = lit(2L) * col("n_a") * col("n_b") +
        col("n_a") * (col("n_a") + 1L) - col("r1x2")
      stats
        .select(col("dim"), col("n_a"), col("n_b"),
          round(u2.cast("double") / (lit(2.0) * col("n_a") * col("n_b")), 6)
            .as("auc"))
        .select(col("dim"), col("n_a"), col("n_b"), col("auc"),
          abs(col("auc") - 0.5).as("dev"))
        .orderBy(desc("dev"), col("dim")).limit(10)
    }),
      """WITH ex AS (
           SELECT i - 1 AS dim, embedding[i] AS v,
             CASE WHEN label = 0 THEN 1 ELSE 0 END AS is0
           FROM (
             SELECT label, embedding,
               unnest(generate_series(1, len(embedding))) AS i
             FROM embeddings)),
         perval AS (
           SELECT dim, v, CAST(sum(is0) AS BIGINT) AS d1,
             CAST(sum(1 - is0) AS BIGINT) AS d2
           FROM ex GROUP BY dim, v),
         cums AS (
           SELECT dim, d1, d2,
             CAST(sum(d1) OVER (PARTITION BY dim ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
             CAST(sum(d2) OVER (PARTITION BY dim ORDER BY v
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2
           FROM perval),
         stats AS (
           SELECT dim, CAST(max(c1) AS BIGINT) AS n_a,
             CAST(max(c2) AS BIGINT) AS n_b,
             CAST(sum(d1 * (c1 + c2 - (d1 + d2) + 1 + c1 + c2)) AS BIGINT)
               AS r1x2
           FROM cums GROUP BY dim),
         auc AS (
           SELECT dim, n_a, n_b,
             ROUND(CAST(2 * n_a * n_b + n_a * (n_a + 1) - r1x2 AS DOUBLE)
               / (2 * n_a * n_b), 6) AS auc
           FROM stats)
         SELECT dim, n_a, n_b, auc, abs(auc - 0.5) AS dev
         FROM auc ORDER BY dev DESC, dim LIMIT 10"""),

    // ── k-means elbow curve (cosine inertia at k ∈ {2,4,8}) ─────────────
    // The "how many clusters" read before any semdedup/IVF design: total
    // cosine inertia Σ(1 − cos_best) under the shared deterministic
    // lowest-id seeding, at three k values in one gated table. Each leg
    // is the q_kmeans_assign machinery (broadcast seed array, narrow
    // per-row argmin — allowlisted posture) plus ONE keyed join back to
    // the k-row seeds for the winning cosine; inertias fold in DECIMAL
    // over the rounded cosines. Diminishing Δinertia = the elbow.
    Query("q_cluster_elbow", ((s, dir) => {
      def leg(k: Int) = {
        val e = emb(s, dir)
        val seeds = Similarity.seedsRelation(e, k)
        Similarity.assignToSeeds(e, seeds)
          .join(broadcast(seeds), Seq("seed_id"))
          .select(Similarity.cosineExact(col("embedding"), col("sv"))
            .as("cos"))
          .agg(count(lit(1)).as("n"),
            round(sum((lit(1.0) - col("cos")).cast("decimal(28,10)"))
              .cast("double"), 4).as("inertia"),
            round(sum(col("cos").cast("decimal(28,10)")).cast("double") /
              count(lit(1)), 6).as("mean_cos"))
          .select(lit(k).as("k"), col("n"), col("inertia"), col("mean_cos"))
      }
      leg(2).unionByName(leg(4)).unionByName(leg(8)).orderBy("k")
    }), {
      def legSql(k: Int) =
        s"""SELECT $k AS k, CAST(count(*) AS BIGINT) AS n,
              ROUND(CAST(SUM(CAST(1.0 - cos AS DECIMAL(28,10)))
                AS DOUBLE), 4) AS inertia,
              ROUND(CAST(SUM(CAST(cos AS DECIMAL(28,10))) AS DOUBLE)
                / count(*), 6) AS mean_cos
            FROM (
              SELECT vec_id, cos, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
              FROM (
                SELECT e.vec_id, s.cell,
                  ${cosineSql("e.embedding", "s.sv")} AS cos
                FROM embeddings e CROSS JOIN (
                  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                    embedding AS sv
                  FROM (SELECT * FROM embeddings ORDER BY vec_id
                        LIMIT $k)) s))
            WHERE rn = 1"""
      s"""${legSql(2)}
          UNION ALL ${legSql(4)}
          UNION ALL ${legSql(8)}
          ORDER BY k"""
    }),

    // ── Late-interaction MaxSim scoring (ColBERT-style) ─────────────────
    // Multi-vector retrieval's core kernel: a QUERY SET of 8 vectors
    // (label-0's lowest ids, broadcast) scores every candidate group by
    // Σ_q max_{d∈group} cos(q, d) — each query vector independently
    // finds its best match inside the group, sums fold in DECIMAL over
    // the already-rounded per-pair cosines. The 8-row broadcast scan is
    // the documented q_knn_brute posture (allowlisted); the max/sum
    // rollups are keyed. At 100 TB the candidate side is IVF/LSH-cut
    // first (q_ivfpq's routing), MaxSim then runs on the shortlist —
    // same kernel, shortlist-sized.
    Query("q_maxsim", ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("label") === 0).orderBy(col("vec_id")).limit(8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      e.crossJoin(broadcast(q))
        .select(col("label"), col("q_id"),
          Similarity.cosineExact(col("q_vec"), col("embedding")).as("cos"))
        .groupBy(col("label"), col("q_id"))
        .agg(max(col("cos")).as("best"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_qvecs"),
          round(sum(col("best").cast("decimal(28,10)")).cast("double"), 6)
            .as("maxsim"))
        .orderBy(desc("maxsim"), col("label"))
    }),
      s"""WITH q AS (
           SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
           WHERE label = 0 ORDER BY vec_id LIMIT 8),
         p AS (
           SELECT e.label, q.q_id,
             ${cosineSql("q.q_vec", "e.embedding")} AS cos
           FROM embeddings e CROSS JOIN q),
         b AS (
           SELECT label, q_id, max(cos) AS best FROM p GROUP BY 1, 2)
         SELECT label, CAST(count(*) AS BIGINT) AS n_qvecs,
           ROUND(CAST(sum(CAST(best AS DECIMAL(28,10))) AS DOUBLE), 6)
             AS maxsim
         FROM b GROUP BY label ORDER BY maxsim DESC, label"""),

    // ── Class-balance training weights ──────────────────────────────────
    // The re-weighting table a trainer attaches to an imbalanced labeled
    // set: per label, its sample share, the inverse-frequency weight
    // N/(K·n_c), and the softer 1/√n_c variant. One keyed aggregate; the
    // (N, K) scalars ride a constant-key window over the |labels|-row
    // relation (pmod carried-column partition — no scalar crossJoin, no
    // empty-partition warning). sqrt is IEEE-exact, divisions round once
    // at 6 — engine-portable without the decimal route.
    Query("q_class_weights", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(col("label"), lit(1)))
      emb(s, dir).groupBy(col("label")).agg(count(lit(1)).as("n"))
        .select(col("label"), col("n"),
          sum(col("n")).over(w).as("n_total"),
          count(lit(1)).over(w).as("k_classes"))
        .select(col("label"), col("n"),
          round(col("n").cast("double") / col("n_total"), 6).as("share"),
          round(col("n_total").cast("double") /
            (col("k_classes") * col("n")), 6).as("inv_freq_w"),
          round(lit(1.0) / sqrt(col("n").cast("double")), 6)
            .as("sqrt_inv_w"))
        .orderBy("label")
    }),
      """WITH pl AS (
           SELECT label, CAST(count(*) AS BIGINT) AS n
           FROM embeddings GROUP BY label),
         t AS (
           SELECT label, n,
             CAST(sum(n) OVER () AS BIGINT) AS n_total,
             CAST(count(*) OVER () AS BIGINT) AS k
           FROM pl)
         SELECT label, n,
           ROUND(CAST(n AS DOUBLE) / n_total, 6) AS share,
           ROUND(CAST(n_total AS DOUBLE) / (k * n), 6) AS inv_freq_w,
           ROUND(1.0 / sqrt(CAST(n AS DOUBLE)), 6) AS sqrt_inv_w
         FROM t ORDER BY label"""),

    // ── NDCG@10 retrieval-ranking quality per probe ──────────────────────
    // The position-discounted eval the recall gates (q_ann_recall,
    // q_knn_accuracy) don't give: did the ranker put the RELEVANT
    // results HIGH, not just somewhere in the cut. Binary relevance =
    // label match against the probe; DCG = Σ rel_i/log₂(i+1) over the
    // brute top-10 (the documented exact baseline — at scale the ranked
    // input is the IVF/LSH shortlist, the metric unchanged); IDCG from
    // the ideal prefix min(|relevant|−1, 10) via a bounded
    // explode(sequence). Per-rank discount terms quantize
    // DECIMAL(20,10) (log₂ verified 10-dp-identical across engines) so
    // both sums are order-free; the label joins and aggregates are keyed.
    Query("q_ndcg", ((s, dir) => {
      val e = emb(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val probes = e.where(col("vec_id") < 5)
      val disc = (c: org.apache.spark.sql.Column) =>
        (lit(1.0) / log2(c.cast("double") + 1.0)).cast("decimal(20,10)")
      val dcg = Similarity.topKNeighbors(probes, e, k = 10)
        .join(e.select(col("vec_id").as("probe_id"),
          col("label").as("pl")), Seq("probe_id"))
        .join(e.select(col("vec_id").as("cand_id"),
          col("label").as("cl")), Seq("cand_id"))
        .groupBy(col("probe_id"))
        .agg(sum(when(col("cl") === col("pl"), disc(col("rank")))
            .otherwise(lit(0.0).cast("decimal(20,10)"))).as("dcg_dec"),
          sum(when(col("cl") === col("pl"), 1L).otherwise(0L))
            .as("n_rel_topk"))
      val idcg = probes
        .select(col("vec_id").as("probe_id"), col("label"))
        .join(e.groupBy(col("label")).agg(count(lit(1)).as("n_lab")),
          Seq("label"))
        .select(col("probe_id"),
          least(col("n_lab") - 1L, lit(10L)).as("n_rel_ideal"))
        // Singleton-label probes (n_rel_ideal = 0) must drop BEFORE the
        // explode: Spark's sequence(1, 0) defaults to step -1 and yields
        // [1, 0] while DuckDB's generate_series(1, 0) is empty — filtering
        // here makes both engines drop the probe via the inner join.
        .where(col("n_rel_ideal") >= 1L)
        .select(col("probe_id"), col("n_rel_ideal"),
          explode(sequence(lit(1L), col("n_rel_ideal"))).as("i"))
        .groupBy(col("probe_id"), col("n_rel_ideal"))
        .agg(sum(disc(col("i"))).as("idcg_dec"))
      dcg.join(idcg, Seq("probe_id"))
        .select(col("probe_id"), col("n_rel_topk"), col("n_rel_ideal"),
          round(col("dcg_dec").cast("double"), 6).as("dcg"),
          round(col("idcg_dec").cast("double"), 6).as("idcg"),
          round(col("dcg_dec").cast("double") /
            col("idcg_dec").cast("double"), 6).as("ndcg"))
        .orderBy("probe_id")
    }),
      s"""WITH pairs AS (
            SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
              p.label AS pl, c.label AS cl,
              ${cosineSql("p.embedding", "c.embedding")} AS cosine
            FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
            WHERE p.vec_id < 5),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY cosine DESC, cand_id ASC) AS rank
            FROM pairs),
          dcg AS (
            SELECT probe_id,
              SUM(CASE WHEN cl = pl THEN
                  CAST(1.0 / log2(CAST(rank AS DOUBLE) + 1.0)
                    AS DECIMAL(20,10))
                ELSE CAST(0.0 AS DECIMAL(20,10)) END) AS dcg_dec,
              CAST(SUM(CASE WHEN cl = pl THEN 1 ELSE 0 END) AS BIGINT)
                AS n_rel_topk
            FROM ranked WHERE rank <= 10 GROUP BY 1),
          lab AS (SELECT label, CAST(count(*) AS BIGINT) AS n_lab
            FROM embeddings GROUP BY 1),
          rel AS (SELECT p.vec_id AS probe_id,
              least(l.n_lab - 1, 10) AS n_rel_ideal
            FROM embeddings p JOIN lab l ON p.label = l.label
            WHERE p.vec_id < 5 AND least(l.n_lab - 1, 10) >= 1),
          idcg AS (SELECT probe_id, n_rel_ideal,
              SUM(CAST(1.0 / log2(CAST(g.i AS DOUBLE) + 1.0)
                AS DECIMAL(20,10))) AS idcg_dec
            FROM rel, LATERAL (SELECT unnest(generate_series(1,
              n_rel_ideal)) AS i) g
            GROUP BY 1, 2)
          SELECT d.probe_id, d.n_rel_topk, i.n_rel_ideal,
            ROUND(CAST(d.dcg_dec AS DOUBLE), 6) AS dcg,
            ROUND(CAST(i.idcg_dec AS DOUBLE), 6) AS idcg,
            ROUND(CAST(d.dcg_dec AS DOUBLE) / CAST(i.idcg_dec AS DOUBLE),
              6) AS ndcg
          FROM dcg d JOIN idcg i USING (probe_id) ORDER BY probe_id"""),
  )
}
