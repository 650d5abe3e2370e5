package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup tiers: exact clustering, MinHash+LSH near-dup with a planted pair,
  * and SimHash Hamming behavior (north-star LLM-pipeline operators).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "near the warm fire and the birds sing in the tall green trees outside"
  private val nearDup = base.replace("green", "leafy") // 1-word edit
  private val unrelated =
    "completely different content about database engines and distributed " +
      "query processing with columnar storage formats and vectorized execution"

  private def docs = Seq(
    (1L, base), (2L, nearDup), (3L, unrelated), (4L, base) // 4 = exact dup of 1
  ).toDF("doc_id", "text")

  test("exactClusters groups by fingerprint with min-id keeper and members") {
    val withFp = docs.withColumn("fp", TextAnalysis.contentFingerprint(col("text")))
    val clusters = Dedup.exactClusters(withFp, "doc_id", "fp")
      .select("keeper", "n_copies", "members")
      .as[(Long, Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    assert(clusters.map(c => (c._1, c._2)) === Seq((1L, 2L), (2L, 1L), (3L, 1L)))
    assert(clusters.head._3 === Seq(1L, 4L))
  }

  test("minhashSignature: length k, deterministic, null on empty shingle set") {
    val df = docs.withColumn("sh", TextAnalysis.shingleSet(col("text"), 3))
    val sigs = df.select(Dedup.minhashSignature(col("sh"), 30).as("sig"))
      .as[Seq[Long]].collect()
    assert(sigs.forall(_.length === 30))
    val again = df.select(Dedup.minhashSignature(col("sh"), 30).as("sig"))
      .as[Seq[Long]].collect()
    assert(sigs.toSeq === again.toSeq)
    val empty = Seq(Seq.empty[String]).toDF("sh")
      .select(Dedup.minhashSignature(col("sh"), 5)).collect()
    assert(empty.head.isNullAt(0))
  }

  test("identical shingle sets ⇒ identical signatures (exact dup agreement)") {
    val df = docs.where(col("doc_id").isin(1, 4))
      .withColumn("sh", TextAnalysis.shingleSet(col("text"), 3))
    val sigs = df.select(Dedup.minhashSignature(col("sh"), 30)).as[Seq[Long]].collect()
    assert(sigs(0) === sigs(1))
  }

  test("minhashEstimate: exact dups → 1.0; equals JVM recompute; ranks near-dup above unrelated") {
    val sh = docs.withColumn("sh", TextAnalysis.shingleSet(col("text"), 3))
    val sigs = sh.select(col("doc_id"), Dedup.minhashSignature(col("sh"), 30).as("sig"))
    val pairs = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
        Dedup.minhashEstimate(col("a.sig"), col("b.sig"), 30).as("est"),
        col("a.sig").as("sa"), col("b.sig").as("sb"))
      .collect()
    pairs.foreach { r =>
      val manual = r.getSeq[Long](3).zip(r.getSeq[Long](4))
        .count { case (x, y) => x == y } / 30.0
      assert(r.getDouble(2) === math.round(manual * 1e6) / 1e6,
        s"estimate must equal the agreement fraction for (${r.getLong(0)},${r.getLong(1)})")
    }
    def est(a: Long, b: Long) =
      pairs.find(r => r.getLong(0) == a && r.getLong(1) == b).get.getDouble(2)
    assert(est(1L, 4L) === 1.0, "identical shingle sets ⇒ every component agrees")
    assert(est(1L, 2L) > est(1L, 3L),
      "the 1-word-edit near-dup must estimate higher than the unrelated doc")
  }

  test("LSH candidatePairs finds the planted near-dup, not the unrelated doc") {
    val sh = docs.withColumn("sh", TextAnalysis.shingleSet(col("text"), 3))
    val pairs = Dedup.candidatePairs(sh, "doc_id", "sh")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L)),
      "high-jaccard pairs must bucket together")
    assert(pairs.contains((1L, 4L)), "exact dups always share every band")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not be a candidate, got $pairs")
  }

  test("verifiedNearDups thresholds candidates by exact Jaccard") {
    val sh = docs.withColumn("sh", TextAnalysis.shingleSet(col("text"), 3))
    val verified = Dedup.verifiedNearDups(sh, "doc_id", "sh", threshold = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    val pairs = verified.map(v => (v._1, v._2)).toSet
    assert(pairs.contains((1L, 2L)), "planted near-dup survives verification")
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)))
    assert(verified.find(v => (v._1, v._2) == (1L, 4L)).get._3 === 1.0)
    val j12 = verified.find(v => (v._1, v._2) == (1L, 2L)).get._3
    assert(j12 > 0.5 && j12 < 1.0)
  }

  test("jaccardNearDups (inverted index) equals brute all-pairs exact Jaccard") {
    val hashed = Dedup.hashedNgrams(
      docs.withColumn("toks", TextAnalysis.tokens(col("text"))),
      "doc_id", "toks", 3)
    val viaIndex = Dedup.jaccardNearDups(hashed, threshold = 0.3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // ground truth: all-pairs array intersect/union over the same sets
    val a = hashed.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val b = hashed.select(col("id").as("id_b"), col("hs").as("hs_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
          size(array_union(col("hs_a"), col("hs_b"))), 6).as("jaccard"))
      .where(col("jaccard") >= 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex === brute)
    assert(brute.exists(p => (p._1, p._2) == (1L, 4L) && p._3 == 1.0),
      "exact dup pair at jaccard 1.0 must be present")
    assert(brute.exists(p => (p._1, p._2) == (1L, 2L)),
      "planted near-dup must be present")
  }

  test("jaccardNearDups maxDf mutes pairs whose overlap is all boilerplate") {
    // 4 docs sharing ONLY a boilerplate header (every header 3-gram has
    // df=4), each with a unique tail; plus one genuine near-dup pair
    val header = "standard license header all rights reserved please read"
    val d = Seq(
      (1L, s"$header unique alpha beta gamma delta"),
      (2L, s"$header unrelated epsilon zeta eta theta"),
      (3L, s"$header something iota kappa lambda mu"),
      (4L, s"$header different nu xi omicron pi"),
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy cat tonight"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val hashed = Dedup.hashedNgrams(d, "doc_id", "toks", 3)
    // cap below the header's df: header n-grams leave the index, so the
    // boilerplate-only pairs vanish; the genuine pair (df=2 overlap) stays
    val capped = Dedup.jaccardNearDups(hashed, threshold = 0.2, maxDf = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((10L, 11L)), s"got $capped")
    // uncapped: the boilerplate pairs reappear with their true Jaccard
    val uncapped = Dedup.jaccardNearDups(hashed, threshold = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((10L, 11L)))
  }

  test("containmentPairs catches subset duplication symmetric Jaccard misses") {
    // doc 20 = a 12-token passage; doc 21 quotes it verbatim inside a much
    // longer page; doc 22 is unrelated filler of similar length to 21
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val filler = "one two three four five six seven eight nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty " +
      "twentyone twentytwo twentythree twentyfour twentyfive twentysix"
    val d = Seq(
      (20L, passage),
      (21L, s"page header boilerplate text $passage trailing footer content here also"),
      (22L, filler)).toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val hashed = Dedup.hashedNgrams(d, "doc_id", "toks", 3)
    val cont = Dedup.containmentPairs(hashed, threshold = 0.9)
      .select("id_a", "id_b", "containment", "contained_id")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(cont.map(c => (c._1, c._2)) === Seq((20L, 21L)),
      s"exactly the quoted-passage pair, got $cont")
    assert(cont.head._3 === 1.0, "every passage n-gram appears in the page")
    assert(cont.head._4 === 20L, "the SHORTER doc is the contained one")
    // symmetric Jaccard structurally cannot reach 0.9 for this pair
    val jac = Dedup.jaccardNearDups(hashed, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(jac.isEmpty, s"jaccard must miss the asymmetric pair, got $jac")
  }

  test("containmentPairs equals brute all-pairs containment; maxDf mutes boilerplate") {
    val hashed = Dedup.hashedNgrams(
      docs.withColumn("toks", TextAnalysis.tokens(col("text"))),
      "doc_id", "toks", 3)
    val viaIndex = Dedup.containmentPairs(hashed, threshold = 0.3)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect().toSet
    val a = hashed.select(col("id").as("id_a"), col("hs").as("hs_a"))
    val b = hashed.select(col("id").as("id_b"), col("hs").as("hs_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
          least(size(col("hs_a")), size(col("hs_b"))), 6).as("containment"))
      .where(col("containment") >= 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex === brute)
    assert(brute.exists(p => (p._1, p._2) == (1L, 4L) && p._3 == 1.0))
    // df cap below every shared n-gram's frequency ⇒ no pairs survive
    val muted = Dedup.containmentPairs(hashed, threshold = 0.01, maxDf = 1)
      .collect()
    assert(muted.isEmpty, "df=1 n-grams are unshared by definition")
  }

  test("adaptiveMaxDf: clamped at capRef up to refDocs, √N-tightens beyond, floored") {
    // at/below the reference corpus the cap is pinned (fixture arithmetic
    // unchanged at sf0.01/sf0.1) …
    assert(Dedup.adaptiveMaxDf(500L) === 50)
    assert(Dedup.adaptiveMaxDf(5000L) === 50)
    // … beyond it the cap tightens as 1/√N (50·√(1/10) ≈ 15.8 → 16) …
    assert(Dedup.adaptiveMaxDf(50000L) === 16)
    assert(Dedup.adaptiveMaxDf(200000L) === 8) // 50·√(1/40) = 7.9 → floor 8
    // … and never drops below the floor (true contained pairs share df≈2
    // n-grams at any corpus size).
    assert(Dedup.adaptiveMaxDf(5000000000L) === 8)
    assert(Dedup.adaptiveMaxDf(0L) === 50) // degenerate-input guard
  }

  test("containmentSketchAudit: exact at k ≥ |small set|, bounded error at small k") {
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val d = Seq(
      (20L, passage),
      (21L, s"page header boilerplate text $passage trailing footer content here also"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val hashed = Dedup.hashedNgrams(d, "doc_id", "toks", 3)
    // k=1000 ≥ every set size: the sketch IS the set → est == containment
    val full = Dedup.containmentSketchAudit(hashed, threshold = 0.9,
        maxDf = Int.MaxValue, k = 1000)
      .select("containment", "est", "abs_err")
      .as[(Double, Double, Double)].collect().toSeq
    assert(full.nonEmpty)
    full.foreach { case (c, e, err) => assert(e === c && err === 0.0) }
    // k=5: estimator of a TRUE containment-1.0 pair is still exact (every
    // sampled element of the contained set is in the container)
    val k5 = Dedup.containmentSketchAudit(hashed, threshold = 0.9,
        maxDf = Int.MaxValue, k = 5)
      .select("containment", "est").as[(Double, Double)].collect().toSeq
    k5.foreach { case (c, e) => if (c == 1.0) assert(e === 1.0) }
  }

  test("segmentDedup keeps corpus-first segments and accounts retained tokens") {
    // 16-token segments. doc 1: segA ++ segB (32 toks). doc 2: segA ++ segC
    // (segA repeated from doc 1 → dup). doc 3: 8-token unique tail segment.
    val segA = (1 to 16).map(i => s"a$i").mkString(" ")
    val segB = (1 to 16).map(i => s"b$i").mkString(" ")
    val segC = (1 to 16).map(i => s"c$i").mkString(" ")
    val tail = (1 to 8).map(i => s"t$i").mkString(" ")
    val d = Seq(
      (1L, s"$segA $segB"), (2L, s"$segA $segC"), (3L, tail))
      .toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val got = Dedup.segmentDedup(d, "doc_id", "toks", segLen = 16)
      .select("doc_id", "n_segs", "dup_segs", "total_toks", "kept_toks", "kept_frac")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got === Seq(
      (1L, 2L, 0L, 32L, 32L, 1.0),      // first occurrences of A and B
      (2L, 2L, 1L, 32L, 16L, 0.5),      // A already seen in doc 1
      (3L, 1L, 0L, 8L, 8L, 1.0)),       // short tail segment, unique
      s"got $got")
  }

  test("segmentDedup keeper order is (id, seg_idx), not arrival order") {
    // the same segment appears at doc 5 seg 1 and doc 4 seg 0: doc 4's
    // copy must be the keeper even though doc 5 sorts later in the input
    val seg = (1 to 16).map(i => s"s$i").mkString(" ")
    val other = (1 to 16).map(i => s"o$i").mkString(" ")
    val d = Seq((5L, s"$other $seg"), (4L, seg))
      .toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val got = Dedup.segmentDedup(d, "doc_id", "toks", segLen = 16)
      .select("doc_id", "dup_segs")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(4L -> 0L, 5L -> 1L),
      "doc 4 (lower id) keeps; doc 5's later copy is the dup")
  }

  test("incrementalNearDups: new batch hits only its corpus near-dups") {
    // corpus: docs 1 (base) and 3 (unrelated); new batch: doc 2 (near-dup
    // of 1) and doc 5 (unrelated to everything)
    val all = docs.union(Seq(
      (5L, "entirely new material nothing like the corpus at all today")
    ).toDF("doc_id", "text"))
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val hashed = Dedup.hashedNgrams(all, "doc_id", "toks", 3)
    val hits = Dedup.incrementalNearDups(
        hashed.where(col("id").isin(1L, 3L)),
        hashed.where(col("id").isin(2L, 5L)),
        threshold = 0.5)
      .select("new_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    assert(hits.map(h => (h._1, h._2)) === Seq((2L, 1L)),
      s"exactly the planted cross-batch pair, got $hits")
    assert(hits.head._3 > 0.5 && hits.head._3 < 1.0)
  }

  test("connectedComponents equals union-find on random graphs") {
    val rnd = new scala.util.Random(13)
    // 3 trials: sparse random graphs with isolated pairs, triangles, chains
    for (trial <- 1 to 3) {
      val n = 40
      val edges = (0 until 50).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) (a, b) else (b, a)
      }.filter(e => e._1 != e._2).distinct
      val got = Dedup.connectedComponents(
          edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      // JVM union-find ground truth
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map(v => v -> find(v)).toMap
      assert(got === want, s"trial $trial")
    }
  }

  test("connectedComponents propagates across a chain (diameter > 1)") {
    // 0-1-2-...-9: one component labeled 0; needs ~9 propagation rounds
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got === (0L to 9L).map(_ -> 0L).toMap)
  }

  test("connectedComponents throws rather than returning half-converged labels") {
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "id_a", "id_b", maxIters = 3)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("ccRound plan stays keyed — the per-round audit PlanShapeSpec can't see") {
    // connectedComponents checkpoints every round, so q_dedup_clusters'
    // returned plan is a LogicalRDD leaf and the global plan guard sees
    // nothing (PlanShapeSpec exempts it); audit the propagation round's
    // REAL join plan here instead, plus the pointer-jump self-join shape —
    // via the SAME shared walker PlanShapeSpec uses (SparkSpec.assertKeyedJoins)
    def assertKeyed(df: org.apache.spark.sql.DataFrame, what: String): Unit =
      assertKeyedJoins(df, what)
    val pairs = (0L until 6L).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
    assertKeyed(Dedup.ccRound(edges, labels), "propagation round")
    // pointer jump: equi-join of the (materialized) label relation with a
    // relabeled copy of itself — keyed by construction, asserted anyway
    val mat = labels.localCheckpoint(true)
    val jump = mat.join(
      mat.select(col("id").as("cid"), col("component").as("cc")),
      col("component") === col("cid"), "left")
    assertKeyed(jump, "pointer-jump join")
  }

  test("simhashNearDupPairs (pigeonhole blocking) equals the all-pairs search") {
    val rnd = new scala.util.Random(11)
    // clustered fingerprints: 20 seeds, each with variants 0-4 bit flips
    // away, plus uniform noise rows → plenty of pairs inside/outside d=5
    val fps = (0 until 20).flatMap { s =>
      val seed = rnd.nextLong() & ((1L << 60) - 1)
      (0 until 4).map { v =>
        var h = seed
        (0 until rnd.nextInt(5)).foreach(_ => h ^= 1L << rnd.nextInt(60))
        (s * 10 + v).toLong -> h
      }
    } ++ (1000 until 1050).map(i => i.toLong -> (rnd.nextLong() & ((1L << 60) - 1)))
    val df = fps.toDF("id", "fp")
    val blocked = Dedup.simhashNearDupPairs(df, "id", "fp", maxHamming = 5)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val a = df.select(col("id").as("id_a"), col("fp").as("h_a"))
    val b = df.select(col("id").as("id_b"), col("fp").as("h_b"))
    val allPairs = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.hammingDistance(col("h_a"), col("h_b")).as("hamming"))
      .where(col("hamming") <= 5)
      .as[(Long, Long, Int)].collect().toSet
    assert(blocked === allPairs)
    assert(allPairs.nonEmpty, "fixture must actually contain close pairs")
  }

  test("simhashNearDupPairs block layout has no empty block for any maxHamming") {
    // regression: uniform ceil-width blocks left whole blocks above bit 59
    // for many maxHamming values (e.g. 10), bucketing the entire corpus
    // together; the blocked result must still equal all-pairs there
    val rnd = new scala.util.Random(21)
    val fps = (0 until 60).map(i => i.toLong -> (rnd.nextLong() & ((1L << 60) - 1)))
    val df = fps.toDF("id", "fp")
    for (d <- Seq(0, 3, 10, 13)) {
      val blocked = Dedup.simhashNearDupPairs(df, "id", "fp", d)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val a = df.select(col("id").as("id_a"), col("fp").as("h_a"))
      val b = df.select(col("id").as("id_b"), col("fp").as("h_b"))
      val allPairs = a.join(b, col("id_a") < col("id_b"))
        .where(Dedup.hammingDistance(col("h_a"), col("h_b")) <= d)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(blocked === allPairs, s"maxHamming=$d")
    }
  }

  test("contaminationPairs: planted eval overlap found; df cap mutes boilerplate") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "shared boiler plate words exactly here"),
      (3L, "shared boiler plate words exactly here too"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon noise noise shared boiler plate words exactly here"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val th = Dedup.hashedNgrams(train, "doc_id", "toks", 3)
    val bh = Dedup.hashedNgrams(bench, "doc_id", "toks", 3)
    def run(minShared: Int, maxDf: Int) =
      Dedup.contaminationPairs(th, bh, minShared, maxDf)
        .select("train_id", "bench_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
    // permissive df cap: every source found, counts = shared 3-gram counts
    assert(run(2, 5) === Set((1L, 100L, 3L), (2L, 100L, 4L), (3L, 100L, 4L)))
    // df cap 1: docs 2/3 share ALL their n-grams with each other (df=2),
    // so the boilerplate matches are muted; the unique-content source stays
    assert(run(1, 1) === Set((1L, 100L, 3L)))
  }

  test("contaminationPairsBloom: identical to the exact plan at every cap") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "shared boiler plate words exactly here"),
      (3L, "shared boiler plate words exactly here too"),
      (4L, "wholly unrelated content that never matches anything at all"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon noise noise shared boiler plate words exactly here"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val th = Dedup.hashedNgrams(train, "doc_id", "toks", 3)
    val bh = Dedup.hashedNgrams(bench, "doc_id", "toks", 3)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("train_id", "bench_id", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
    for ((minShared, maxDf) <- Seq((2, 5), (1, 1), (3, 100))) {
      val exact = collect(Dedup.contaminationPairs(th, bh, minShared, maxDf))
      val bloomed =
        collect(Dedup.contaminationPairsBloom(th, bh, minShared, maxDf))
      assert(bloomed === exact, s"minShared=$minShared maxDf=$maxDf")
      // capacity over-run: a bench set far past expectedBenchHashes only
      // raises the fpp (more survivors into the verify join) — the final
      // answer must not move
      val tiny = collect(Dedup.contaminationPairsBloom(
        th, bh, minShared, maxDf, expectedBenchHashes = 2L))
      assert(tiny === exact, s"tiny-capacity minShared=$minShared maxDf=$maxDf")
    }
    spark.catalog.clearCache()
  }

  test("contaminationPairsBloom: empty bench set yields empty pairs, no crash") {
    // the treeAggregate bloom build must tolerate an empty (or
    // all-filtered) bench relation — zero-value blooms merge to an empty
    // filter and every train n-gram is dropped map-side
    val train = Seq((1L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val th = Dedup.hashedNgrams(train, "doc_id", "toks", 3)
    val bh = th.where(lit(false))
    assert(Dedup.contaminationPairsBloom(th, bh, 1, 100).count() === 0L)
    assert(Dedup.contaminationPairs(th, bh, 1, 100).count() === 0L)
    spark.catalog.clearCache()
  }

  test("simhashCapacity: block width pins the linear-regime corpus size") {
    assert(Dedup.simhashCapacity(5) === (1L << 10)) // 6 blocks × 10 bits
    assert(Dedup.simhashCapacity(2) === (1L << 20))
    assert(Dedup.simhashCapacity(0) === (1L << 60))
    // the wide form doubles every block: d=5 ⇒ 20-bit blocks
    // (covered structurally by the equals-all-pairs test below)
  }

  test("simhashNearDupPairsWide (120-bit) equals the all-pairs search") {
    val rnd = new scala.util.Random(17)
    def r60() = rnd.nextLong() & ((1L << 60) - 1)
    // clustered 2-word fingerprints: seeds with ≤ d total bit flips spread
    // across BOTH words (exercises the per-word block split), plus noise
    val fps = (0 until 15).flatMap { s =>
      val (w0, w1) = (r60(), r60())
      (0 until 4).map { v =>
        var a = w0; var b = w1
        (0 until rnd.nextInt(6)).foreach { _ =>
          val bit = rnd.nextInt(120)
          if (bit < 60) a ^= 1L << bit else b ^= 1L << (bit - 60)
        }
        (s * 10 + v).toLong -> Array(a, b)
      }
    } ++ (1000 until 1040).map(i => i.toLong -> Array(r60(), r60()))
    val df = fps.toDF("id", "fp")
    for (d <- Seq(0, 5, 11)) {
      val blocked = Dedup.simhashNearDupPairsWide(df, "id", "fp", d)
        .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
      val a = df.select(col("id").as("id_a"), col("fp").as("h_a"))
      val b = df.select(col("id").as("id_b"), col("fp").as("h_b"))
      val allPairs = a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (Dedup.hammingDistance(element_at(col("h_a"), 1), element_at(col("h_b"), 1)) +
            Dedup.hammingDistance(element_at(col("h_a"), 2), element_at(col("h_b"), 2)))
            .as("hamming"))
        .where(col("hamming") <= d)
        .as[(Long, Long, Int)].collect().toSet
      assert(blocked === allPairs, s"maxHamming=$d")
      if (d == 5) assert(allPairs.nonEmpty, "fixture must contain close pairs")
    }
  }

  test("simhashWide: word0 is simhash60; near-identical docs close in 120 bits") {
    val df = docs.withColumn("w",
        Dedup.simhashWide(TextAnalysis.tokens(col("text"))))
      .withColumn("s60", Dedup.simhash(TextAnalysis.tokens(col("text"))))
    df.select("doc_id", "w", "s60").collect().foreach { r =>
      val w = r.getAs[scala.collection.Seq[Long]]("w")
      assert(w.length === 2)
      assert(w.head === r.getAs[Long]("s60"), "word0 must equal the 60-bit simhash")
    }
    def ham(a: Seq[Long], b: Seq[Long]) =
      java.lang.Long.bitCount(a.head ^ b.head) + java.lang.Long.bitCount(a(1) ^ b(1))
    val m = df.select("doc_id", "w").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[scala.collection.Seq[Long]]("w").toSeq).toMap
    assert(ham(m(1L), m(4L)) === 0, "identical docs: distance 0 in both words")
    assert(ham(m(1L), m(2L)) <= 24, "1-word edit: small 120-bit distance")
    assert(ham(m(1L), m(3L)) > 24, "unrelated doc: large 120-bit distance")
  }

  test("substringRunPairs: planted run length exact, fragments filtered, keyed") {
    // doc 10 and 11 share tokens w20..w34 verbatim (a 15-token run) at
    // different offsets; doc 12 shares only a 9-token run with doc 10;
    // doc 13 is disjoint. k=4: runs assemble from 4-token windows.
    def words(r: Range) = r.map(i => s"w$i").mkString(" ")
    val d = Seq(
      (10L, words(0 to 40)),                          // w20..w34 ⊂ doc 10
      (11L, s"alpha beta ${words(20 to 34)} gamma delta"),
      (12L, s"x1 x2 x3 ${words(26 to 34)} y1 y2"),    // 9-token overlap w/ 10
      (13L, "p q r s t u v p2 q2 r2 s2 t2")
    ).toDF("doc_id", "text")
    val out = Dedup.substringRunPairs(d, "doc_id",
        TextAnalysis.tokens(col("text")), k = 4, minRunTokens = 10, maxDf = 50)
      .orderBy("id_a", "id_b")
    val rows = out.select("id_a", "id_b", "max_run_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    // (10,11): 15-token run — exact length. (10,12)/(11,12): 9 < 10 —
    // filtered. 13: no shared window at all.
    assert(rows === Seq((10L, 11L, 15L)))
    // below the threshold the 9-token fragment IS found with exact length
    val lax = Dedup.substringRunPairs(d, "doc_id",
        TextAnalysis.tokens(col("text")), k = 4, minRunTokens = 4, maxDf = 50)
      .select("id_a", "id_b", "max_run_tokens")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._2))
    assert(lax.contains((10L, 12L, 9L)) && lax.contains((11L, 12L, 9L)))
    // df-cap mutes boilerplate: cap 2 keeps pair windows (df=2 or 3 for
    // the triple-shared tail) out — with cap 2 the w26..w34 windows
    // (df = 3: docs 10, 11, 12) vanish and 12 pairs with nobody
    val capped = Dedup.substringRunPairs(d, "doc_id",
        TextAnalysis.tokens(col("text")), k = 4, minRunTokens = 4, maxDf = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(!capped.exists(p => p._1 === 12L || p._2 === 12L))
    // scale shape: hash-keyed joins only (window partitions are match-sized)
    assertKeyedJoins(out, "substringRunPairs")
  }

  test("winnowPairs: ≥ n+w−1 token runs guaranteed; equals brute fingerprint intersection") {
    // docs 1 and 2 share an 11-token verbatim run (= n+w−1 for n=8,w=4 —
    // the winnowing guarantee floor) embedded in different contexts; doc 3
    // is disjoint. The shared run spans 11−8+1 = 4 consecutive 8-gram
    // hashes — exactly one full window — so 1 and 2 MUST share ≥1
    // fingerprint (Schleimer et al. §3).
    def words(p: String, r: Range) = r.map(i => s"$p$i")
    val run = words("run", 1 to 11)
    val d = Seq(
      (1L, words("a", 1 to 6) ++ run ++ words("at", 1 to 3)),
      (2L, words("b", 1 to 9) ++ run ++ words("bt", 1 to 5)),
      (3L, words("c", 1 to 25))
    ).toDF("id", "toks")
    val pairs = Dedup.winnowPairs(d, "id", col("toks"),
        n = 8, w = 4, minShared = 1, maxDf = 100)
      .select("id_a", "id_b", "n_shared").as[(Long, Long, Long)]
      .collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)),
      s"exactly the planted pair: $pairs")
    // brute force: per-doc fingerprint sets intersected in the JVM
    val fps = d.select(col("id"),
        Dedup.winnowedFingerprints(col("toks"), 8, 4).as("f"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(pairs.head._3 === fps(1L).toSet.intersect(fps(2L).toSet).size)
    // the fingerprint index is sparser than the full n-gram index
    val nNgrams = d.select(sum(greatest(size(col("toks")) - 7, lit(0))))
      .as[Long].head()
    assert(fps.values.map(_.size).sum < nNgrams,
      "winnowing must index fewer hashes than the exhaustive positional index")
    // a run one token short of the floor has NO guarantee but the pair
    // machinery still returns only what the fingerprints support
    assertKeyedJoins(Dedup.winnowPairs(d, "id", col("toks"),
      n = 8, w = 4, minShared = 1, maxDf = 100), "winnowPairs")
    spark.catalog.clearCache()
  }

  test("simhash: near-identical docs land within small Hamming distance") {
    val df = docs.withColumn("sh", Dedup.simhash(TextAnalysis.tokens(col("text"))))
    val hs = df.select("doc_id", "sh").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hs(1L) === hs(4L), "identical docs: distance 0")
    assert(ham(hs(1L), hs(2L)) <= 12, "1-word edit: small distance")
    assert(ham(hs(1L), hs(3L)) > 12, "unrelated doc: large distance")
    // hammingDistance column form agrees with the JVM computation
    val d = df.where(col("doc_id") === 1).select(col("sh").as("a"))
      .crossJoin(df.where(col("doc_id") === 3).select(col("sh").as("b")))
      .select(Dedup.hammingDistance(col("a"), col("b"))).as[Int].head()
    assert(d === ham(hs(1L), hs(3L)))
  }

  test("similarityHistogram: bands mirror the pair relation, jaccard 1.0 clamps to the top band") {
    val rows = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"), // identical: j=1.0
      (3L, "x1 x2 x3 x4 x5 x6 x7"), (4L, "x1 x2 x3 x4 y5 y6 y7"), // partial
      (5L, "z1 z2 z3 z4")) // disjoint: in no pair
    val hashed = Dedup.hashedNgrams(
      rows.toDF("doc_id", "text")
        .withColumn("toks", TextAnalysis.tokens(col("text"))),
      "doc_id", "toks", 3)
    val pairJ = Dedup.jaccardNearDups(hashed, 0.1)
      .select("jaccard").as[Double].collect().toSeq
    assert(pairJ.sorted === Seq(0.25, 1.0), "the planted pair relation")
    val got = Dedup.similarityHistogram(hashed, 0.1)
      .orderBy("band")
      .select("band", "sim_lo", "n_pairs", "avg_jaccard")
      .as[(Int, Double, Long, Double)].collect().toSeq
    // j=0.25 → band 2; j=1.0 → floor(10) = 10 must CLAMP to 9, not spill
    // into an out-of-range band
    assert(got === Seq((2, 0.2, 1L, 0.25), (9, 0.9, 1L, 1.0)))
    spark.catalog.clearCache()
  }

  test("band configs: exact pair caught at every (b,r); candidates shrink as r grows") {
    // docs 1/2 identical (j=1 — every band of every config matches);
    // 3/4 partially similar; 5 disjoint
    val rows = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "x1 x2 x3 x4 x5 x6 x7"), (4L, "x1 x2 x3 x4 y5 y6 y7"),
      (5L, "z1 z2 z3 z4"))
    val hashed = Dedup.hashedNgrams(
        rows.toDF("doc_id", "text")
          .withColumn("toks", TextAnalysis.tokens(col("text"))),
        "doc_id", "toks", 3)
      .persist()
    val configs = Seq((30, 1), (15, 2), (10, 3), (6, 5))
    val counts = configs.map { case (b, r) =>
      val cand = Dedup.candidatePairsFromHashes(hashed, 30, b, r)
        .as[(Long, Long)].collect().toSet
      assert(cand.contains((1L, 2L)),
        s"identical pair must surface at b=$b r=$r (all bands agree)")
      cand.size
    }
    assert(counts === counts.sorted.reverse,
      s"candidate volume must not grow as rows-per-band grows: $counts")
    // the one-pass sweep must agree with the per-config relations: same
    // candidate counts, and exactly the j=1.0 planted pair verified at 0.9
    val sweep = Dedup.bandSweep(hashed, 30, configs, threshold = 0.9)
      .orderBy(desc("bands"))
      .as[(Int, Int, Long, Long, Double)].collect().toSeq
    assert(sweep.map(_._3) === counts.map(_.toLong),
      "sweep candidate counts must equal candidatePairsFromHashes counts")
    assert(sweep.forall(_._4 === 1L),
      s"only the identical pair clears j >= 0.9 at every config: $sweep")
    spark.catalog.clearCache()
  }

  test("minhashErrorSweep: identical pair estimates j=1 exactly at every budget") {
    val rows = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"), // j = 1.0
      (3L, "z1 z2 z3 z4 z5"))                                // in no pair
    val hashed = Dedup.hashedNgrams(
      rows.toDF("doc_id", "text")
        .withColumn("toks", TextAnalysis.tokens(col("text"))),
      "doc_id", "toks", 3)
    val got = Dedup.minhashErrorSweep(hashed, ks = Seq(5, 10, 30),
        threshold = 0.8)
      .orderBy("k")
      .as[(Int, Long, Double, Double)].collect().toSeq
    // identical hash sets → identical signature prefixes at any k →
    // estimate 1.0 → zero error, for the single verified pair
    assert(got === Seq((5, 1L, 0.0, 0.0), (10, 1L, 0.0, 0.0),
      (30, 1L, 0.0, 0.0)))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("contaminationCoverage: leaky = df in [minDf, maxDf]; zero-covered bench rows survive") {
    // train dfs: 1→1, 2→2, 3→2, 4→1, 9→1; minDf=2 → leaky {2,3}
    val train = Seq(
      (1L, Array(1L, 2L, 3L)), (2L, Array(2L, 3L, 4L)), (3L, Array(9L))
    ).toDF("id", "hs")
    val bench = Seq(
      (10L, Array(1L, 2L, 3L)),  // {2,3} covered → 2/3
      (11L, Array(7L, 8L))       // nothing covered → 0
    ).toDF("id", "hs")
    val got = Dedup.contaminationCoverage(train, bench, minDf = 2,
        maxTrainDf = 100)
      .orderBy("bench_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq((10L, 3L, 2L, 0.666667), (11L, 2L, 0L, 0.0)))
    spark.catalog.clearCache()
  }

  test("winnowDensity: constant stream collapses to one fingerprint, short docs excluded") {
    // 10 identical tokens, n=2 → 9 equal positional hashes → every window
    // min identical → 1 distinct fingerprint; the 1-token doc has no
    // positions and must not count
    val d = Seq(
      (1L, ("a " * 10).trim),
      (2L, "b")
    ).toDF("doc_id", "text")
    val got = Dedup.winnowDensity(d, TextAnalysis.tokens(col("text")),
        n = 2, w = 3)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got === Seq((1L, 9L, 1L, 0.111111, 0.5)))
    spark.catalog.clearCache()
  }

  test("duplicationSpectrum: singleton mass + histogram over component sizes") {
    // components: {1,2,3} (chain via pairs), {4,5}, and 6 alone
    val d = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.duplicationSpectrum(d, "doc_id", pairs)
      .orderBy("csize")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 1L, 0.166667),   // doc 6
      (2L, 1L, 2L, 0.333333),   // {4,5}
      (3L, 1L, 3L, 0.5)))       // {1,2,3}
    spark.catalog.clearCache()
  }
}
