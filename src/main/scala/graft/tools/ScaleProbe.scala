package graft.tools

import org.apache.spark.sql.functions._

/** One-off scale probe (VERDICT r10 #6): replicate the documents and
  * embeddings fixtures N× with remapped ids into `target/scaleprobe/`,
  * then run selected `SparkEntry.queries` entries at 1× and N× under the
  * bench protocol (one untimed warm execution, then a timed noop-sink
  * execution) and print both times. Purpose: one-number evidence that
  * the top-k/group-count-bound operators (q_rrf_hybrid's fuse,
  * q_mixture_sample's quota draw) do not grow super-linearly with corpus
  * size — their corpus-scale stages are the rankers/draw scan, their
  * result-scale stages are k-row. Not part of the gated surface — a
  * diagnosis tool like QueryProfile.
  *
  * Replica k shifts ids by k·10⁹, so every replicated row is a distinct
  * document/vector; replica 0 is the original corpus, which keeps
  * q_rrf_hybrid's probe vector (vec_id = 0) a single row at any factor.
  *
  * Modes (4th arg, VERDICT r11 #5):
  *  - `exact` (default): verbatim replicas — every doc gains N−1 exact
  *    twins. Fine for scan/agg/top-k probes, DEGENERATE for the near-dup
  *    family: pair counts grow ~N² and wall-clock ratios need a caveat.
  *  - `perturb`: replica k>0 rewrites a deterministic ~15 % of each doc's
  *    whitespace tokens to replica-unique junk words (hash(token, pos,
  *    rep) — tokenizer-safe alphanumerics). With 3-gram shingles a 15 %
  *    token kill leaves ≈ 0.85³ ≈ 61 % of shingles shared, Jaccard ≈
  *    0.44 against the original — far under the 0.8/0.9 thresholds, so
  *    CROSS-replica near-dup pairs vanish while each replica keeps the
  *    fixture's own internal dup structure (identical twin docs perturb
  *    identically and stay twins). Pairs then grow ~N, not ~N², and a
  *    10× wall-clock ratio reads directly. Embeddings are replicated
  *    verbatim in both modes (the perturbed probes are the text family).
  *  - `perturbemb` (r14): `perturb` text PLUS decorrelated replica
  *    embeddings — replica k>0 flips the sign of each element where
  *    hash(vec_id, k, i) is odd. Sign flips preserve every norm and the
  *    fixture's near-random geometry while making cross-replica cosines
  *    ≈ N(0, 1/d) noise, so replicas stop colliding into their twins'
  *    LSH buckets — verbatim replicas are DEGENERATE for the sign-LSH
  *    probes exactly as exact text replicas are for near-dup (every
  *    bucket's occupancy grows ×N with identical members, forcing ~N²
  *    candidate growth no matter the bit width). Honest "more data"
  *    scaling for probe_knn_fixed/probe_knn_scaled.
  *
  * Probe-only queries (VERDICT r13 #2 — measure the documented scale
  * levers the gated surface pins for oracle replay):
  *  - `probe_knn_fixed` / `probe_knn_scaled`: q_knn_accuracy's agreement
  *    relation at the gated fixed 8 bits vs `Similarity.AutoBits`
  *    (scaledNBits ⌈log₂N⌉+2) — the lever that keeps sign-LSH candidate
  *    volume O(N).
  *  - `probe_image_8band` / `probe_image_16band`: q_image_neardup's pair
  *    search at the fixed 8-bit bands vs the 16-bit super-band +
  *    Hamming-1 multiprobe plan (`Multimodal.adaptiveSuperBandBits`'s
  *    big-corpus choice; output-invariant, so the gated query carries
  *    the lever adaptively).
  */
object ScaleProbe {
  private val probeQueries: Map[String,
      (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "probe_knn_fixed" -> ((s, d) =>
      graft.queries.SimilarityQueries.knnAccuracyRelation(s, d)),
    "probe_knn_scaled" -> ((s, d) =>
      graft.queries.SimilarityQueries.knnAccuracyRelation(
        s, d, graft.ops.Similarity.AutoBits)),
    "probe_image_8band" -> ((s, d) => imagePairs(s, d, 8)),
    "probe_image_16band" -> ((s, d) => imagePairs(s, d, 16)))

  private def imagePairs(s: org.apache.spark.sql.SparkSession, dir: String,
                         superBandBits: Int) =
    graft.ops.Multimodal.imageNearDups(
      graft.ops.Multimodal.decodeImageDHash(s,
        graft.ops.Multimodal.syntheticNoisePayloads(
          s, s.read.parquet(s"$dir/documents.parquet").select("doc_id"))),
      maxHamming = 7, superBandBits = superBandBits)
  /** Perturbed text: fraction `pctOfTokens`/100 of whitespace tokens
    * replaced by replica-keyed junk; replica 0 passes through verbatim. */
  private def perturbText(text: org.apache.spark.sql.Column,
                          rep: org.apache.spark.sql.Column,
                          pctOfTokens: Int) = {
    val toks = split(text, " ")
    val mutated = zip_with(toks, sequence(lit(0), size(toks) - 1), (t, i) =>
      when(rep > 0 &&
          pmod(hash(t, i, rep), lit(100)) < pctOfTokens,
        concat(lit("zz"), rep.cast("string"), lit("q"),
          (abs(hash(t, i, rep)) % 9973).cast("string")))
        .otherwise(t))
    concat_ws(" ", mutated)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val queries = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(Seq("q_rrf_hybrid", "q_mixture_sample"))
    val mode = args.lift(3).getOrElse("exact")
    require(factor >= 2, s"factor: $factor")
    require(mode == "exact" || mode == "perturb" || mode == "shiftparts"
        || mode == "perturbemb",
      s"mode: $mode")
    // arg 6 `pct=N`: perturbation strength for the perturb modes. The
    // 15% default keeps replicas NEAR-dup-able (the similarity families'
    // recall surface); for DEDUP CLUSTERING probes 15% is a fixture
    // artifact — ten 15%-perturbed replicas of one base doc still pair
    // with EACH OTHER (pairwise jaccard ≈ 0.5), so candidate pairs grow
    // ∝ replicas² per family and the probe measures replica self-pairing,
    // not engine scaling (the r15 q_dedup_clusters 56.9× cold reading).
    // pct ≥ 40 pushes inter-replica jaccard under every candidate
    // threshold → honest disjoint-corpus weak scaling.
    // accepted at ANY position past the fixed four (ADVICE r15: parsed
    // only as the exact 6th arg, a misplaced pct= silently fell back to
    // the 15% default and reproduced the replica self-pairing artifact
    // the flag exists to avoid); unrecognized trailing args fail loudly
    val trailing = args.drop(4).filterNot(a =>
      a == "cold" || a.startsWith("pct="))
    require(trailing.isEmpty,
      s"unrecognized args: ${trailing.mkString(",")} (expected 'cold' and/or 'pct=N')")
    val perturbPct = args.collectFirst {
      case s if s.startsWith("pct=") => s.stripPrefix("pct=").toInt
    }.getOrElse(15)
    val spark = graft.Sessions.local("scale-probe")
    val outDir = s"target/scaleprobe/$mode-x$factor"

    val reps = spark.range(factor).select(col("id").as("rep"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("doc_id", col("doc_id") + col("rep") * 1000000000L)
    val docsOut =
      if (mode == "perturb" || mode == "perturbemb")
        docs.withColumn("text",
          perturbText(col("text"), col("rep"), perturbPct))
      else docs
    docsOut.drop("rep").repartition(32) // ≥32 files: the replicated read
      // must not collapse to 1-2 input splits (63 MB single-file replicas
      // made every 100× leg run 1-2 tasks wide — the r13 probe wedge)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("vec_id", col("vec_id") + col("rep") * 1000000000L)
    val embOut =
      if (mode == "perturbemb")
        embBase.withColumn("embedding",
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1), (x, i) =>
              when(col("rep") > 0 &&
                  pmod(hash(col("vec_id"), col("rep"), i), lit(2)) === 1,
                -x).otherwise(x)))
      else embBase
    embOut.drop("rep").repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // Fact tables for the relational/events probes (r12): row-identity
    // keys shift by rep·10¹⁰ (clear of the 10⁹ offsets q_upsert/q_cdc_diff
    // synthesize internally), so intra-replica joins stay 1:1; user_id
    // shifts by rep·10⁶ so session/user cardinality grows with the data
    // (a fixed user set would just deepen per-user sequences). Dimension
    // tables copy verbatim — they are the star schema's broadcast side and
    // deliberately do NOT grow (the 100 TB posture).
    // `shiftparts` (r13): ALSO shift l_partkey per replica, giving the
    // support-floored co-purchase GRAPH queries `factor` DISJOINT copies
    // of the 1× graph — honest weak scaling. Exact replication instead
    // multiplies every pair's support by `factor`, voiding the sup ≥ 2
    // floor: the probe then measures a ~1000×-denser graph (a different
    // problem), which is why q_kcore's 100× exact leg wedged. Part-DIM
    // joins would dangle under shifted partkeys — use this mode only for
    // queries that treat l_partkey as an opaque node id.
    val keyShift = col("rep") * 10000000000L
    val liBase = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("l_orderkey", col("l_orderkey") + keyShift)
    val li =
      if (mode == "shiftparts")
        liBase.withColumn("l_partkey",
          col("l_partkey") + col("rep") * 100000000L)
      else liBase
    li.drop("rep").repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("o_orderkey", col("o_orderkey") + keyShift)
      .drop("rep").repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    spark.read.parquet(s"$sfDir/events.parquet")
      .crossJoin(broadcast(reps))
      .withColumn("event_id", col("event_id") + keyShift)
      .withColumn("user_id", col("user_id") + col("rep") * 1000000L)
      .drop("rep").repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    val nDocs = spark.read.parquet(s"$outDir/documents.parquet").count()
    println(s"[scaleprobe] replicated corpus ($mode): $nDocs docs at $outDir")

    // arg 5 "cold": drop intra-query persists between the warm and timed
    // runs. The default (warm) protocol matches Bench — a query that
    // persists a bounded aggregate legitimately reuses it — but for
    // SCALE-posture readings on such queries the warm timed leg skips
    // the corpus-scale scan entirely (measured ratios < 1 at 10× data),
    // so the cold leg is the honest scan-scaling number.
    val cold = args.drop(4).contains("cold")
    def timed(name: String, dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        probeQueries.getOrElse(name, graft.SparkEntry.queries(name))(spark, dir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm
      if (cold) graft.Sessions.releaseCaches(spark)
      val t = once()
      graft.Sessions.releaseCaches(spark)
      t
    }
    queries.foreach { q =>
      val t1 = timed(q, sfDir)
      val tN = timed(q, outDir)
      println(f"[scaleprobe] $q%-18s 1x ${t1}%.3f s   ${factor}x ${tN}%.3f s   ratio ${tN / t1}%.2f")
    }
    spark.stop()
  }
}
