package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariant specs for [[CorpusStats]] — the oracle gate proves number
  * equality against DuckDB; these prove the MATH means what it claims
  * (entropy bounds, coverage monotonicity, mixture normalization,
  * partition invariance) on corpora constructed to hit the edges.
  */
class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tokStream(rows: Seq[(Long, String)]) =
    CorpusStats.tokenStream(
      rows.toDF("doc_id", "text"),
      "doc_id", TextAnalysis.tokens(col("text")))

  test("docEntropy: 0 for constant docs, ln(n) for all-distinct docs") {
    val tok = tokStream(Seq(
      (1L, "a a a a"),                // constant → H = 0
      (2L, "a b c d e f g h"),        // uniform distinct → H = ln 8
      (3L, "x x y y")))               // two evens → H = ln 2
    val out = CorpusStats.docEntropy(tok)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out(0).getDouble(3) == 0.0)
    assert(math.abs(out(1).getDouble(3) - math.log(8)) < 1e-5)
    assert(math.abs(out(2).getDouble(3) - math.log(2)) < 1e-5)
    // ttr: 1/4, 8/8, 2/4
    assert(out.map(_.getDouble(4)).toSeq == Seq(0.25, 1.0, 0.5))
  }

  test("oovRate: dominant-language vocab skew, zero when covered, repartition-stable") {
    // "a b" dominates the frequency table; the k=2 vocab is exactly {a,b},
    // so en is fully covered and xx is fully out-of-vocabulary
    val d = Seq(
      (1L, "en", "a b a b"), (2L, "en", "a b"), (3L, "xx", "z q")
    ).toDF("doc_id", "lang", "text")
    val got = CorpusStats.oovRate(d, "lang",
        TextAnalysis.tokens(col("text")), k = 2)
      .orderBy("lang").as[(String, Long, Long, Double)].collect().toSeq
    assert(got === Seq(("en", 6L, 6L, 0.0), ("xx", 2L, 0L, 1.0)))
    val re = CorpusStats.oovRate(d.repartition(5), "lang",
        TextAnalysis.tokens(col("text")), k = 2)
      .orderBy("lang").as[(String, Long, Long, Double)].collect().toSeq
    assert(re === got)
  }

  test("vocabCoverage: monotone, ends at 1.0 when k covers the vocab") {
    val tok = tokStream(Seq((1L, "a a a b b c"), (2L, "a b d")))
    val out = CorpusStats.vocabCoverage(tok, k = 10)
      .orderBy("rank").collect()
    assert(out.length == 4) // vocab = {a, b, c, d}
    // frequency order with token tiebreak: a(4), b(3), c(1), d(1)
    assert(out.map(_.getString(1)).toSeq == Seq("a", "b", "c", "d"))
    val cov = out.map(_.getDouble(3)).toSeq
    assert(cov == cov.sorted, s"coverage not monotone: $cov")
    assert(cov.last == 1.0)
  }

  test("unigramLogProb: certain corpus scores 0; rarer docs score lower") {
    // one-token corpus → p = 1 → mean_logprob = 0 exactly
    val certain = CorpusStats.unigramLogProb(tokStream(Seq((1L, "a a a"))))
      .collect()
    assert(certain.head.getDouble(2) == 0.0)
    // doc of rare tokens scores strictly below a doc of common tokens
    val tok = tokStream(Seq(
      (1L, "the the the the the the the the the"),
      (2L, "rare words here")))
    val out = CorpusStats.unigramLogProb(tok).orderBy("doc_id").collect()
    assert(out(0).getDouble(2) > out(1).getDouble(2))
    // partition invariance: decimal accumulation ⇒ exact equality
    val rep = CorpusStats.unigramLogProb(tok.repartition(13))
      .orderBy("doc_id").collect()
    assert(out.map(_.toSeq).toSeq == rep.map(_.toSeq).toSeq)
  }

  test("pmiCollocations: an exclusive pair outranks equal-marginal fillers") {
    // all four tokens have identical marginals (30 each); "dolce vita"
    // always co-occurs while alpha/beta alternate order, so each filler
    // bigram has HALF the joint probability at the same marginals —
    // PMI(dolce vita) = PMI(filler) + ln 2. (PMI rewards rare exclusive
    // pairs, so a fair test must hold the marginals equal.)
    val docs = (0 until 30).map { i =>
      val filler = if (i % 2 == 0) "alpha beta" else "beta alpha"
      (i.toLong, s"dolce vita $filler")
    }
    val out = CorpusStats.pmiCollocations(
        docs.toDF("doc_id", "text"), "doc_id",
        TextAnalysis.tokens(col("text")), minCount = 5, k = 10)
      .orderBy("rank").collect()
    assert(out.head.getString(1) == "dolce vita",
      s"top collocation was ${out.head.getString(1)}")
    // ranks are 1..n, dense and deterministic
    assert(out.map(_.getInt(0)).toSeq == (1 to out.length).toSeq)
  }

  test("mixtureWeights: normalized, and T=1/2 upweights low-resource groups") {
    val docs = Seq(
      ("en", 900L), ("en", 900L), ("en", 900L), ("en", 900L), ("en", 900L),
      ("it", 100L))
      .toDF("lang", "nt")
    val out = CorpusStats.mixtureWeights(docs, "lang", col("nt"))
      .orderBy("grp").collect()
    val pRaw = out.map(_.getDouble(3)).sum
    val wSam = out.map(_.getDouble(4)).sum
    assert(math.abs(pRaw - 1.0) < 1e-5 && math.abs(wSam - 1.0) < 1e-5)
    val en = out.find(_.getString(0) == "en").get
    val it = out.find(_.getString(0) == "it").get
    // temperature flattens: the rare group's sampled share beats its raw share
    assert(it.getDouble(4) > it.getDouble(3))
    assert(en.getDouble(4) < en.getDouble(3))
  }

  test("scoreBuckets: per-group terciles, boundary inclusive, group-relative") {
    // group A: scores 1..9 — terciles at 1/3 and 2/3 quantiles; group B is
    // uniformly worse than A but must still get its own head
    val rows = (1 to 9).map(i => ("A", i * 100L, i.toDouble)) ++
      (1 to 3).map(i => ("B", i + 900L, i / 100.0))
    val out = CorpusStats.scoreBuckets(
        rows.toDF("grp", "id", "score"), "grp", "score")
      .select("grp", "id", "score", "bucket")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(3)))
    val a = out.filter(_._1 == "A").sortBy(_._2).map(_._3).toSeq
    // 9 values: t_lo = q(1/3) between 3 and 4, t_hi = q(2/3) between 6
    // and 7 → 1-3 tail, 4-6 middle, 7-9 head
    assert(a === Seq("tail", "tail", "tail", "middle", "middle", "middle",
      "head", "head", "head"))
    // B's best value is far below A's worst, yet B still has a head
    assert(out.exists(r => r._1 == "B" && r._3 == "head"))
    // boundary: a score EXACTLY at t_hi is head (>= is inclusive)
    val exact = CorpusStats.scoreBuckets(
        Seq(("g", 1L, 1.0), ("g", 2L, 2.0), ("g", 3L, 3.0))
          .toDF("grp", "id", "score"), "grp", "score", lo = 0.0, hi = 1.0)
      .where(col("id") === 3).select("bucket").as[String].head()
    assert(exact === "head")
  }

  test("unigramLogProb plan: vocabulary join is broadcast, agg is keyed") {
    val tok = tokStream(Seq((1L, "a b c a"), (2L, "b c d")))
    val df = CorpusStats.unigramLogProb(tok)
    df.collect()
    val nodes = collectPlanNodes(df.queryExecution.executedPlan)
      .map(_.nodeName)
    assert(nodes.exists(_.contains("BroadcastHashJoin")),
      s"vocab join not broadcast: $nodes")
    assert(!nodes.exists(_.contains("SortMergeJoin")),
      "token→vocab join fell back to a full shuffle join")
  }

  test("heavyHitters: equals the exact HAVING query, at any partitioning") {
    // known counts: a×12, b×6, c×3, d×1, e×1 → N=23
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++ Seq.fill(3)("c")
      ++ Seq("d", "e")).mkString(" ")
    val tok = tokStream(Seq((1L, text)))
    def exact(phi: Double) = {
      val n = tok.count()
      val t = math.ceil(phi * n).toLong
      tok.groupBy("tok").count().where(col("count") >= t)
        .select("tok").as[String].collect().toSet
    }
    for (phi <- Seq(0.1, 0.2, 0.5)) {
      val hh = CorpusStats.heavyHitters(tok, phi)
        .select("tok").as[String].collect().toSet
      assert(hh === exact(phi), s"phi=$phi")
      // CMS counters are exact-merge commutative: repartitioning the
      // stream cannot change the sketch, the threshold, or the answer
      val hh7 = CorpusStats.heavyHitters(tok.repartition(7), phi)
        .select("tok").as[String].collect().toSet
      assert(hh7 === hh, s"partitioning changed heavyHitters at phi=$phi")
    }
    // counts come back exact, not estimated
    val counted = CorpusStats.heavyHitters(tok, 0.1)
      .as[(String, Long)].collect().toMap
    assert(counted === Map("a" -> 12L, "b" -> 6L, "c" -> 3L))
  }

  test("bm25TopK: tf monotone, rarer term weighs more, non-hits excluded") {
    val tok = tokStream(Seq(
      (1L, "apple banana cherry date"),        // 1× apple
      (2L, "apple apple banana cherry date"),  // 2× apple, same-ish length
      (3L, "kiwi kiwi kiwi kiwi"),             // no query terms
      (4L, "rare banana cherry date")))        // 1× rare (df=1 vs apple df=2)
    val out = CorpusStats.bm25TopK(tok, Seq("apple", "rare"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!out.contains(3L), "doc without query terms must not appear")
    assert(out(2L) > out(1L), "higher tf must score higher")
    // df(rare)=1 < df(apple)=2 → idf(rare) > idf(apple); doc 4 and doc 1
    // have equal length and tf=1, so the rarer term must win
    assert(out(4L) > out(1L), "rarer term must contribute more")
    spark.catalog.clearCache()
  }

  test("robustZScores: median/MAD math, outlier flag, MAD=0 guard") {
    val rows = Seq(
      // group g: med = 15 ((14+16)/2), MAD = 3 (adevs 5,3,1,1,3,985 → 3)
      ("g", 1L, 10.0), ("g", 2L, 12.0), ("g", 3L, 14.0),
      ("g", 4L, 16.0), ("g", 5L, 18.0), ("g", 6L, 1000.0),
      // group k: constant → MAD = 0 → z NULL, outlier false
      ("k", 7L, 5.0), ("k", 8L, 5.0), ("k", 9L, 5.0))
      .toDF("grp", "id", "x")
    val out = CorpusStats.robustZScores(rows, "id", "grp", col("x"))
      .orderBy("id").collect()
    val g6 = out(5)
    assert(g6.getDouble(3) === 15.0 && g6.getDouble(4) === 3.0)
    assert(math.abs(g6.getDouble(5)
      - BigDecimal((1000.0 - 15) / (1.4826 * 3))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(g6.getBoolean(6), "planted outlier not flagged")
    assert(out.take(5).forall(!_.getBoolean(6)), "inliers flagged")
    val k = out.filter(_.getString(1) == "k")
    assert(k.forall(r => r.isNullAt(5) && !r.getBoolean(6)),
      "MAD=0 group must yield NULL z and no outlier flag")
  }

  test("groupOverlap: hand-computed pairwise Jaccard, zero-overlap pairs absent") {
    // bigram sets: x = {ab, bc}, y = {bc, cd}, z = {qr}
    // (x,y): 1 shared of 3 distinct → 1/3; z overlaps nothing → absent
    val docs = Seq((0L, "x", "a b c"), (1L, "y", "b c d"), (2L, "z", "q r"))
      .toDF("doc_id", "src", "text")
    val out = CorpusStats.groupOverlap(docs, "src",
        TextAnalysis.tokens(col("text")), n = 2)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq(("x", "y", 2L, 2L, 1L, 0.333333)))
    spark.catalog.clearCache()
  }

  test("duplicatedNgramFraction: copies score 1, originals 0, partial overlap exact") {
    // 3-grams: docs 1 and 2 are verbatim copies (every 3-gram df=2 →
    // frac 1.0); doc 3 shares its first 3 tokens with them — of its
    // three 3-grams exactly one ("a b c") exists elsewhere → 1/3; doc 4
    // is fully original → 0.0
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"),
      (3L, "a b c x y"), (4L, "p q r s t")
    ).toDF("doc_id", "text")
    val out = CorpusStats.duplicatedNgramFraction(docs, "doc_id",
        TextAnalysis.tokens(col("text")), n = 3)
      .select("doc_id", "n_ngrams", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 3L, 3L, 1.0)))
    assert(out(2L) === ((2L, 3L, 3L, 1.0)))
    assert(out(3L) === ((3L, 3L, 1L, 0.333333)))
    assert(out(4L) === ((4L, 3L, 0L, 0.0)))
    // partition-invariant (the df aggregate is keyed, not sampled)
    val again = CorpusStats.duplicatedNgramFraction(docs.repartition(5),
        "doc_id", TextAnalysis.tokens(col("text")), n = 3)
      .select("doc_id", "dup_frac").as[(Long, Double)].collect().toMap
    assert(again === out.view.mapValues(_._4).toMap)
    assertKeyedJoins(CorpusStats.duplicatedNgramFraction(docs, "doc_id",
      TextAnalysis.tokens(col("text")), n = 3), "duplicatedNgramFraction")
    spark.catalog.clearCache()
  }

  test("bigramLogProb: frequent transitions outscore rare ones; short docs absent") {
    // corpus: "a b" ×10, "a z" ×1, "solo" ×1 — c(a b)=10, c(a z)=1,
    // c(a)=11, V={a,b,z,solo}=4: lp(a b)=ln(11/15), lp(a z)=ln(2/15)
    val rows = (0L until 10L).map(i => (i, "a b")) ++
      Seq((10L, "a z"), (11L, "solo"))
    val out = CorpusStats.bigramLogProb(
        rows.toDF("doc_id", "text"), "doc_id",
        TextAnalysis.tokens(col("text")))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(11L), "single-token doc has no bigram stream")
    assert(out.size === 11)
    assert(out(0L)._2 === 1L && out(10L)._2 === 1L)
    assert(out(0L)._3 > out(10L)._3, "frequent transition must outscore rare")
    assert(math.abs(out(0L)._3 - math.log(11.0 / 15)) < 1e-6)
    assert(math.abs(out(10L)._3 - math.log(2.0 / 15)) < 1e-6,
      "Laplace smoothing: unseen-ish transition stays finite and exact")
    spark.catalog.clearCache()
  }

  test("heavyHitters: null tokens count in neither the threshold nor the candidates") {
    // 65 non-null tokens (hot=60, cold=5) + 40 nulls. phi = 0.7:
    // non-null threshold = ceil(0.7·65) = 46 → hot qualifies; a
    // null-inclusive N would demand ceil(0.7·105) = 74 and wrongly
    // reject it (ADVICE r07 — the two Ns must be the same population)
    val tok = (Seq.fill(60)(Option("hot")) ++ Seq.fill(5)(Option("cold"))
        ++ Seq.fill(40)(Option.empty[String]))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "tok")
    val out = CorpusStats.heavyHitters(tok, phi = 0.7)
      .as[(String, Long)].collect().toMap
    assert(out === Map("hot" -> 60L))
  }

  test("bpeTrain: k greedy merges with pair recount between iterations") {
    // corpus: "aaab"×3, "ab"×2 — hand-traced BPE:
    //   step 1: (a,a) cnt 6 (two positions per "aaab") beats (a,b) cnt 5
    //           → "aaab" becomes [aa, a, b]
    //   step 2: (a,b) cnt 5 (3 from "aaab" + 2 from "ab") beats (aa,a) 3
    //           → [aa, ab] and [ab]
    //   step 3: (aa,ab) cnt 3 — "ab" is single-symbol, contributes none
    val tok = (Seq.fill(3)("aaab") ++ Seq.fill(2)("ab"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "tok")
    val got = CorpusStats.bpeTrain(tok, 3).orderBy("step")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got === Seq((1, "a", "a", 6L), (2, "a", "b", 5L),
      (3, "aa", "ab", 3L)))
    // apply half: after (a,a), (a,b), (aa,ab) the words are single units
    val vocab = CorpusStats.bpeVocab(tok, 3)
      .as[(String, Long)].collect().toMap
    assert(vocab === Map("aaab" -> 3L, "ab" -> 2L))
    spark.catalog.clearCache()
  }

  test("bpeCompressionCurve: one-chain stats equal the per-k re-derived form") {
    // Same hand-traced corpus as above ("aaab"×3, "ab"×2; 16 chars total).
    // The curve must equal what k independent bpeVocab chains would give
    // (the r12 form it replaces) — here both hand-checked AND re-derived.
    val tok = (Seq.fill(3)("aaab") ++ Seq.fill(2)("ab"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "tok")
    val got = CorpusStats.bpeCompressionCurve(tok, k = 3)
      .orderBy("step")
      .as[(Int, Long, Long, Double)].collect().toSeq
    // step 1 (a,a): "aaab"→[aa,a,b] 3 units ×3 + "ab" 2 units ×2 = 13
    // step 2 (a,b): [aa,ab] 2×3 + [ab] 1×2 = 8
    // step 3 (aa,ab): [aaab] 1×3 + [ab] 1×2 = 5
    assert(got === Seq(
      (1, 13L, 16L, 13.0 / 16), (2, 8L, 16L, 0.5), (3, 5L, 16L, 5.0 / 16)))
    // and equals the per-k re-derivation (old form) at every step
    val old = (1 to 3).map { k =>
      val r = CorpusStats.bpeVocab(tok, k)
        .select(col("wc"),
          size(split(col("sym"), "  ")).cast("long").as("nu"),
          length(regexp_replace(col("sym"), "  ", "")).cast("long").as("nc"))
        .agg(sum(col("wc") * col("nu")), sum(col("wc") * col("nc"))).head()
      (k, r.getLong(0), r.getLong(1))
    }
    assert(got.map(t => (t._1, t._2, t._3)) === old)
    spark.catalog.clearCache()
  }

  test("bpeTrain: merge pattern anchors symbol boundaries — no cross-symbol fusion") {
    // corpus: "aa"×10, "ab"×6, "aab"×1. Step 1 merges (a,a) cnt 11
    // (10 + 1 from "aab"), leaving "aab" as [aa, b]; step 2 merges (a,b)
    // cnt 6 (the "aab" occurrence is GONE after step 1 — recount works).
    // The (a,b) pattern must NOT match the trailing 'a' of the "aa"
    // SYMBOL in [aa, b]: an unanchored replace would fuse it to "aab"
    // under a merge pair that is neither of its symbols.
    val tok = (Seq.fill(10)("aa") ++ Seq.fill(6)("ab") ++ Seq("aab"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "tok")
    val merges = CorpusStats.bpeTrain(tok, 2).orderBy("step")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(merges === Seq((1, "a", "a", 11L), (2, "a", "b", 6L)))
    val vocab = CorpusStats.bpeVocab(tok, 2).as[(String, Long)].collect().toMap
    assert(vocab === Map("aa" -> 10L, "ab" -> 6L, "aa  b" -> 1L),
      "\"aab\" must stay [aa, b] — (a,b) cannot merge across the aa|b boundary")
    spark.catalog.clearCache()
  }

  test("bpeTrain/bpeVocab: exhausted merges stop emitting, vocabulary survives") {
    // "ab" has exactly ONE possible merge; rounds 2 and 3 find no pairs.
    // bpeTrain must emit just the one real merge (not pad), and bpeVocab
    // must return the fully-merged corpus, NOT an empty relation (a
    // crossJoin against the empty round-2 winner would annihilate it)
    val tok = Seq((0L, "ab")).toDF("doc_id", "tok")
    val merges = CorpusStats.bpeTrain(tok, 3).orderBy("step")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(merges === Seq((1, "a", "b", 1L)))
    val vocab = CorpusStats.bpeVocab(tok, 3).as[(String, Long)].collect().toMap
    assert(vocab === Map("ab" -> 1L))
    spark.catalog.clearCache()
  }

  test("unigram/bigram LM: vocabulary broadcast hint gated by measured size") {
    // the GraphSpec broadcastMaxNodes pattern: above the threshold the
    // vocabulary join must carry NO broadcast hint (AQE owns the sides);
    // the answer must be identical either way
    val rows = Seq((1L, "the cat sat on the mat"), (2L, "the cat ran"))
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.hint.leftHint.exists(_.strategy.isDefined) ||
              j.hint.rightHint.exists(_.strategy.isDefined) => j
      }.size
    val tok = tokStream(rows)
    assert(hints(CorpusStats.unigramLogProb(tok, broadcastMaxVocab = 0)) <
      hints(CorpusStats.unigramLogProb(tok)),
      "above-threshold unigram plan must shed the vocabulary broadcast hint")
    val uniA = CorpusStats.unigramLogProb(tok, broadcastMaxVocab = 0)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val uniB = CorpusStats.unigramLogProb(tok).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(uniA === uniB)
    val docsDf = rows.toDF("doc_id", "text")
    def bg(thresh: Long) = CorpusStats.bigramLogProb(
      docsDf, "doc_id", TextAnalysis.tokens(col("text")),
      broadcastMaxVocab = thresh)
    assert(hints(bg(0)) < hints(bg(10000000L)),
      "above-threshold bigram plan must shed the vocabulary broadcast hint")
    assert(bg(0).orderBy("doc_id").collect().map(_.toSeq).toSeq
      === bg(10000000L).orderBy("doc_id").collect().map(_.toSeq).toSeq)
    spark.catalog.clearCache()
  }

  test("bpeSegmentStats/bpeVocab: empty token stream yields empty results") {
    val tok = Seq.empty[(Long, String)].toDF("doc_id", "tok")
    assert(CorpusStats.bpeVocab(tok, 2).count() === 0L)
    assert(CorpusStats.bpeSegmentStats(tok, 2).count() === 0L)
    spark.catalog.clearCache()
  }

  test("bpeSegmentStats: per-doc unit counts match the trained segmentation") {
    // corpus: doc 1 = [aaab, ab], doc 2 = [ab]. Word table {aaab:1, ab:2};
    // k=1 trains merge (a,a) cnt 2 (two positions in "aaab") vs (a,b)
    // cnt 3 — (a,b) wins. Segmentations: "aaab" → [a, a, ab] (3 units),
    // "ab" → [ab] (1 unit).
    val tok = Seq((1L, "aaab"), (1L, "ab"), (2L, "ab")).toDF("doc_id", "tok")
    val out = CorpusStats.bpeSegmentStats(tok, k = 1)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 2L, 4L), (2L, 1L, 1L)))
    // above the broadcast gate the keyed join sheds its hint, same rows
    val gated = CorpusStats.bpeSegmentStats(tok, k = 1, broadcastMaxVocab = 0)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(gated === out)
    spark.catalog.clearCache()
  }

  test("bpeTrain: lineage cuts keep plan depth constant in k (large-k posture)") {
    // Two long words of distinct symbols give 60+ real merge rounds.
    val w1 = (('a' to 'z') ++ ('0' to '9')).mkString       // 36 symbols
    val w2 = w1.reverse
    val tok = Seq((0L, w1), (1L, w2)).toDF("doc_id", "tok")
    // Semantics are unchanged by the lineage cuts: the hand-traced
    // corpus at k=3 crosses the cut after round 2 and must still produce
    // the hand-traced merges.
    val traced = (Seq.fill(3)("aaab") ++ Seq.fill(2)("ab"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "tok")
    val got = CorpusStats.bpeTrain(traced, 3)
      .orderBy("step").as[(Int, String, String, Long)].collect().toSeq
    assert(got === Seq((1, "a", "a", 6L), (2, "a", "b", 5L), (3, "aa", "ab", 3L)))
    spark.catalog.clearCache()
    // Flat-in-k plan: with a cut every 2 rounds, k=61 and k=13 both sit
    // 1 lazy round past their last checkpoint — the analyzed plan of the
    // final vocabulary must be the SAME SIZE (no O(k) lineage growth,
    // no O(k) Catalyst analysis cost per round).
    def planNodes(k: Int): Int = {
      val n = CorpusStats.bpeVocab(tok, k)
        .queryExecution.analyzed.collect { case p => p }.size
      spark.catalog.clearCache()
      n
    }
    assert(planNodes(61) === planNodes(13),
      "final-vocab plan size must not grow with k past a lineage cut")
    // and a 64-round train actually completes, emitting one row per merge
    val merges = CorpusStats.bpeTrain(tok, 64)
      .orderBy("step")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(merges.size === 64 && merges.map(_._1) === (1 to 64))
    spark.catalog.clearCache()
  }

  test("bpeTrain: within-iteration merge is greedy left-to-right, no rescan") {
    // "a a a a" + merge (a,a) must give [aa, aa] (positions 1-2 then 3-4,
    // the replaced text never re-participates), NOT [aaa, a] or [aaaa]
    val tok = Seq((0L, "aaaa")).toDF("doc_id", "tok")
    val got = CorpusStats.bpeTrain(tok, 2).orderBy("step")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got === Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }

  test("groupMixEntropy: 50/50 mix reads ln 2, single-lang source reads 0 with NULL norm") {
    val d = Seq(
      (1L, "srcA", "en"), (2L, "srcA", "fr"),   // 50/50 → H ≈ ln 2
      (3L, "srcB", "en"), (4L, "srcB", "en")    // pure → H = 0, norm NULL
    ).toDF("doc_id", "source", "lang")
    val got = CorpusStats.groupMixEntropy(d, "source", "lang")
      .orderBy("grp")
      .select("grp", "n_docs", "n_subs", "entropy", "norm_entropy")
      .collect().toSeq
    // terms round at 6 before summing: 2·round(0.5·ln 0.5, 6) = −0.693148
    assert(got(0).getString(0) === "srcA" && got(0).getLong(1) === 2L &&
      got(0).getLong(2) === 2L && got(0).getDouble(3) === 0.693148 &&
      got(0).getDouble(4) === 1.000001)
    assert(got(1).getString(0) === "srcB" && got(1).getDouble(3) === 0.0 &&
      got(1).isNullAt(4))
    spark.catalog.clearCache()
  }

  test("tokenBudgetPlan: floor-of-share targets, epochs = target/available") {
    // en: 16 tokens, xx: 4 → s = 4, 2 → w = 0.666667 / 0.333333; budget 60
    // → targets floor(40.00002)=40, floor(19.99998)=19; epochs 2.5 / 4.75
    val d = Seq(
      (1L, "en", ("a " * 16).trim),
      (2L, "xx", "b b b b")
    ).toDF("doc_id", "lang", "text")
    val got = CorpusStats.tokenBudgetPlan(d, "lang",
        size(TextAnalysis.tokens(col("text"))), budget = 60L)
      .orderBy("grp")
      .select("grp", "grp_tokens", "target_tokens", "epochs")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got === Seq(("en", 16L, 40L, 2.5), ("xx", 4L, 19L, 4.75)))
    spark.catalog.clearCache()
  }

  test("bpe compression curve: units shrink by merged-occurrence count, chars conserved") {
    // corpus "aa aa" + "zq": merge 1 = (a,a) → units 4/6 chars;
    // merge 2 = (z,q) → units 3; chars constant
    val tok = tokStream(Seq((1L, "aa aa"), (2L, "zq")))
    def stats(k: Int) = CorpusStats.bpeVocab(tok, k)
      .select(col("wc"),
        size(split(col("sym"), "  ")).cast("long").as("nu"),
        length(call_function("replace", trim(col("sym")), lit("  "), lit("")))
          .cast("long").as("nc"))
      .agg(sum(col("wc") * col("nu")).cast("long"),
        sum(col("wc") * col("nc")).cast("long"))
      .as[(Long, Long)].collect().head
    assert(stats(1) === ((4L, 6L)))
    assert(stats(2) === ((3L, 6L)))
    spark.catalog.clearCache()
  }

  test("ngramNovelty: min-id attribution, short docs absent, exact-dup → 0") {
    val d = Seq(
      (1L, "a b c d e f"),  // grams {a b c d e, b c d e f} — both novel
      (2L, "a b c d e f"),  // exact dup of 1 → nothing novel
      (3L, "a b c d e z"),  // {a b c d e (owner 1), b c d e z (novel)}
      (4L, "a b")           // < 5 tokens → no grams → absent
    ).toDF("doc_id", "text")
    val got = CorpusStats.ngramNovelty(d, "doc_id",
        TextAnalysis.tokens(col("text")), n = 5)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 2L, 1.0), (2L, 2L, 0L, 0.0), (3L, 2L, 1L, 0.5)))
    spark.catalog.clearCache()
  }

  test("subwordFertility: the unlearned language pays more units per word") {
    // one merge; (a,a) wins on frequency, so en's only word becomes one
    // unit while xx's word stays two chars → fertility 1.0 vs 2.0
    val d = Seq(
      (1L, "en", "aa aa"),
      (2L, "xx", "zq")
    ).toDF("doc_id", "lang", "text")
    val got = CorpusStats.subwordFertility(d, "doc_id", "lang",
        TextAnalysis.tokens(col("text")), k = 1)
      .orderBy("grp")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got === Seq(
      ("en", 1L, 2L, 2L, 1.0, 2.0),   // 2 words → 2 units, 4 chars
      ("xx", 1L, 1L, 2L, 2.0, 1.0)))  // 1 word → 2 units, 2 chars
    spark.catalog.clearCache()
  }

  test("q_cms: the count-min guarantee — estimate never undershoots") {
    // the CMS one-sided error bound est >= true is structural (bucket
    // sums only ever ADD counts); a violation means the estimate's
    // bucket routing diverged from the sketch's — exactly the bug class
    // this guards
    val sfDir = "/root/testdata/sf0.001"
    requireFixtures(sfDir)
    val rows = graft.SparkEntry.queries("q_cms")(spark, sfDir)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.length === 20)
    rows.foreach { case (tok, tc, est, over) =>
      assert(est >= tc, s"one-sided bound violated for '$tok'")
      assert(over === est - tc, s"overestimate column for '$tok'")
    }
    spark.catalog.clearCache()
  }
}
