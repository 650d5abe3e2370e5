package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Similarity search: exact cosine identities, brute-force top-k ordering,
  * LSH recall on planted clusters, and native-vs-exact dot agreement.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosineExact: orthogonal=0, identical=1, opposite=-1") {
    val df = Seq(
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f), 1.0),
      (Array(1f, 1f), Array(-1f, -1f), -1.0),
      (Array(3f, 4f), Array(4f, 3f), 0.96)
    ).toDF("a", "b", "expected")
    val rows = df.select(Similarity.cosineExact(col("a"), col("b")).as("c"),
      col("expected")).as[(Double, Double)].collect()
    rows.foreach { case (got, exp) => assert(math.abs(got - exp) < 1e-6) }
  }

  test("embeddingAnisotropy: identical vectors → 1.0; known 2-vector group; repartition-stable") {
    val df = Seq(
      (0L, "a", Array(3f, 4f)), (1L, "a", Array(3f, 4f)), (2L, "a", Array(3f, 4f)),
      (3L, "b", Array(1f, 0f)), (4L, "b", Array(0f, 1f))
    ).toDF("vec_id", "label", "embedding")
    val rows = Similarity.embeddingAnisotropy(df, "label", "embedding")
      .orderBy("label")
      .select("label", "n", "anisotropy", "mean_l2")
      .as[(String, Long, Double, Double)].collect().toSeq
    // group a: every vector IS the mean direction → anisotropy exactly 1
    assert(rows.head === (("a", 3L, 1.0, 5.0)))
    // group b: μ=(0.5,0.5); cos(v,μ) = 0.5/√0.5 = 0.707107 (rounded 6)
    assert(rows(1) === (("b", 2L, 0.707107, 1.0)))
    val re = Similarity.embeddingAnisotropy(df.repartition(7), "label", "embedding")
      .orderBy("label")
      .select("label", "n", "anisotropy", "mean_l2")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(re === rows, "anisotropy must be partitioning-invariant")
  }

  test("embeddingAnisotropy: heterogeneous vector lengths zero-pad, never NULL") {
    // ADVICE r11: μ is built at the group's MAX length; the unguarded HOF
    // dot null-poisoned cos_mu for any shorter member. Contract: shorter
    // vectors read as zero-extended into μ's space.
    val df = Seq(
      (0L, "h", Array(1f, 0f)),
      (1L, "h", Array(0f, 0f, 1f))
    ).toDF("vec_id", "label", "embedding")
    val r = Similarity.embeddingAnisotropy(df, "label", "embedding")
      .select("n", "anisotropy", "mean_l2").as[(Long, Double, Double)].head()
    assert(r._1 === 2L)
    // per-position means over contributors: μ = (0.5, 0, 1), ‖μ‖ = √1.25;
    // cos(v0,μ) = 0.5/√1.25 (the pad), cos(v1,μ) = 1/√1.25
    assert(math.abs(r._2 - (0.5 + 1.0) / math.sqrt(1.25) / 2) < 1e-5,
      s"anisotropy must be the zero-padded average, got ${r._2}")
    assert(r._3 === 1.0)
  }

  test("dimensionVariance: hand-computed spectrum, shares sum to 1, repartition-stable") {
    // dim 0 values {1,3}: mean 2, var ((1+9)−4·2/… ) = E[x²]−μ² = 5−4 = 1
    // dim 1 values {5,5}: mean 5, var 0
    // dim 2 values {0,4}: mean 2, var 8−4 = 4 → total var 5
    val df = Seq(
      (0L, Array(1f, 5f, 0f)), (1L, Array(3f, 5f, 4f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.dimensionVariance(df, "embedding").orderBy("pos")
      .select("pos", "mean", "variance", "energy_share", "cum_share")
      .as[(Int, Double, Double, Double, Double)].collect().toSeq
    assert(rows === Seq(
      (0, 2.0, 1.0, 0.2, 1.0),      // cum order: var desc → dim2, dim0, dim1
      (1, 5.0, 0.0, 0.0, 1.0),
      (2, 2.0, 4.0, 0.8, 0.8)))
    val re = Similarity.dimensionVariance(df.repartition(5), "embedding")
      .orderBy("pos")
      .select("pos", "mean", "variance", "energy_share", "cum_share")
      .as[(Int, Double, Double, Double, Double)].collect().toSeq
    assert(re === rows, "spectrum must be partitioning-invariant")
  }

  test("cellPurity: majority share, tie → smaller label, repartition-stable") {
    val members = Seq(
      (0, 1), (0, 1), (0, 2),         // cell 0: majority label 1, purity 2/3
      (1, 3),                         // cell 1: singleton, purity 1
      (2, 4), (2, 5)                  // cell 2: tie → smaller label 4
    ).toDF("cell", "label")
    val got = Similarity.cellPurity(members, "cell", "label")
      .orderBy("cell").as[(Int, Int, Long, Double)].collect().toSeq
    assert(got === Seq(
      (0, 1, 3L, 0.666667), (1, 3, 1L, 1.0), (2, 4, 2L, 0.5)))
    val re = Similarity.cellPurity(members.repartition(5), "cell", "label")
      .orderBy("cell").as[(Int, Int, Long, Double)].collect().toSeq
    assert(re === got)
  }

  test("dotExact is partitioning-order independent; dotFast (native) agrees") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(64)(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val paired = df.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(df.limit(1).select(col("embedding").as("b")))
    val exact = paired
      .select(col("vec_id"), Similarity.dotExact(col("a"), col("b")).as("d"))
      .as[(Long, Double)].collect().toMap
    val fast = paired
      .select(col("vec_id"), Similarity.dotFast(col("a"), col("b")).as("d"))
      .as[(Long, Double)].collect().toMap
    exact.foreach { case (id, d) =>
      assert(math.abs(d - fast(id)) < 1e-6, s"vec $id exact=$d fast=${fast(id)}")
    }
  }

  /** Planted-cluster fixture: 3 well-separated unit directions with small
    * jitter; every vector's true nearest neighbors are its own cluster.
    */
  private def planted = {
    val rnd = new scala.util.Random(13)
    val dims = 12
    val centers = Seq(0, 4, 8).map { axis =>
      Array.tabulate(dims)(i => if (i == axis) 1f else 0f)
    }
    (0 until 30).map { i =>
      val c = centers(i % 3)
      val v = Array.tabulate(dims)(j => c(j) + (rnd.nextFloat() - 0.5f) * 0.1f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("topKNeighbors: k rows per probe, descending cosine, same-cluster hits") {
    val corpus = planted
    val probes = corpus.where(col("vec_id") < 3)
    val res = Similarity.topKNeighbors(probes, corpus, k = 5)
      .select("probe_id", "cand_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(res.groupBy(_._1).forall(_._2.size == 5))
    res.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._3) === sorted.map(_._3).sorted.reverse, "cosine desc")
    }
    // every neighbor of probe p comes from p's planted cluster (mod 3)
    res.foreach { case (p, c, cos, _) =>
      assert(c % 3 === p % 3, s"probe $p got cross-cluster neighbor $c (cos=$cos)")
    }
  }

  test("topKNeighborsLsh: returned neighbors are a prefix-quality subset of brute force") {
    val corpus = planted
    val probes = corpus.where(col("vec_id") < 3)
    val brute = Similarity.topKNeighbors(probes, corpus, k = 5)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.topKNeighborsLsh(probes, corpus, k = 5, nBits = 8)
      .select("probe_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    assert(lsh.nonEmpty, "planted clusters must collide in sign-LSH buckets")
    // LSH may return <k rows (recall contract) but what it returns for the
    // tight planted clusters must be true neighbors
    lsh.foreach { case (p, c, _) =>
      assert(c % 3 === p % 3, s"LSH neighbor $c not in probe $p's cluster")
    }
    // with the Hamming-1 probes on near-identical vectors, the top hit matches brute force
    val lshTop = lsh.filter(_._3 == 1).map(t => (t._1, t._2)).toSet
    assert(lshTop.subsetOf(brute))
  }

  test("topKNeighborsIvf: candidates come from probed cells; hits stay in-cluster") {
    val corpus = planted
    val probes = corpus.where(col("vec_id") < 3)
    val ivf = Similarity.topKNeighborsIvf(probes, corpus, k = 5,
      nCentroids = 6, nProbe = 3)
      .select("probe_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    assert(ivf.nonEmpty)
    ivf.foreach { case (p, c, _) =>
      assert(c % 3 === p % 3, s"IVF neighbor $c not in probe $p's cluster")
    }
    // seeds cover all 3 planted clusters; k-means refinement keeps them
    // there, so with nProbe=3 each probe reaches its own cluster's cell
    // and returns a full k
    assert(ivf.groupBy(_._1).forall(_._2.size == 5))
  }

  test("kmeansCentroids: Lloyd refinement converges onto the planted centers") {
    val cents = Similarity.kmeansCentroids(planted, nCentroids = 3, iters = 3)
    assert(cents.size === 3)
    // each refined centroid should be dominated by one of the planted axes
    // (0, 4, 8) — the mean of a cluster with ±0.05 jitter sits ~1.0 on its
    // axis and ~0 elsewhere
    val axes = cents.map { case (_, v) =>
      v.zipWithIndex.maxBy(_._1.abs)._2
    }.toSet
    assert(axes === Set(0, 4, 8), s"centroid axes: $axes")
    cents.foreach { case (_, v) =>
      assert(v.map(_.abs).max > 0.8, "dominant axis component near 1")
    }
    // determinism
    val again = Similarity.kmeansCentroids(planted, 3, 3)
    assert(cents === again)
  }

  test("kmeansCentroids: honest cell counts — 1024 centroids stay sane, envelope enforced") {
    import spark.implicits._
    // 1400 deterministic dim-8 vectors → a full IVF-scale Lloyd loop:
    // 1024 seeds, two refinement rounds, 1024×8 collected per round
    val corpus = (0 until 1400).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (((i * 31 + d * 17) % 97) / 97.0f) - 0.5f))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(corpus, nCentroids = 1024, iters = 2)
    assert(cents.size === 1024)
    assert(cents.map(_._1).distinct.size === 1024, "seed ids unique")
    assert(cents === Similarity.kmeansCentroids(corpus, 1024, 2),
      "1024-centroid refinement is deterministic")
    // past the documented 2^25 nCentroids×dim envelope the driver-resident
    // loop must refuse loudly, not OOM the driver
    val wide = Seq((0L, Array.fill(1 << 20)(0.1f))).toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(wide, nCentroids = 64, iters = 1)
    }
    assert(err.getMessage.contains("2^25"))
    spark.catalog.clearCache()
  }

  test("signBits: deterministic, in [0, 2^nBits), equal for identical vectors") {
    val df = planted
    val sigs = df.select(col("vec_id"),
      Similarity.signBits(col("embedding"), 10).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sigs.values.forall(s => s >= 0 && s < (1L << 10)))
    // regression: vectors shorter than the weight dim (12 < 64 here) used
    // to NULL-poison every projection and collapse all buckets to 0
    assert(sigs.values.toSet.size > 1,
      s"12-dim planted clusters must spread over buckets, got ${sigs.values.toSet}")
    val again = df.select(col("vec_id"),
      Similarity.signBits(col("embedding"), 10).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sigs === again)
  }

  test("scaledNBits: occupancy-bounded growth with floor and cap") {
    // the scale rule itself: expected bucket occupancy N/2^bits stays
    // ≤ 2^-margin whenever neither the floor nor the cap binds
    for (n <- Seq(100L, 1000L, 100000L, 10000000L)) {
      val bits = Similarity.scaledNBits(n, minBits = 2, margin = 2, maxBits = 60)
      assert(n.toDouble / math.pow(2, bits) <= 0.25, s"n=$n bits=$bits")
      // and never more than a factor-2 over-allocation beyond the margin
      assert(bits <= math.ceil(math.log(n.toDouble) / math.log(2)).toInt + 2)
    }
    assert(Similarity.scaledNBits(10, minBits = 12) === 12, "floor binds")
    assert(Similarity.scaledNBits(1L << 40, minBits = 8) === 30, "cap binds")
    // monotonic in n
    val seq = Seq(1L, 10L, 100L, 10000L, 1000000L)
      .map(Similarity.scaledNBits(_, minBits = 2))
    assert(seq === seq.sorted)
  }

  test("AutoBits: bucket occupancy stays bounded as the corpus grows") {
    val rnd = new scala.util.Random(31)
    for (n <- Seq(256, 1024, 4096)) {
      val df = (0 until n).map(i =>
        (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
        .toDF("vec_id", "embedding")
      val bits = Similarity.scaledNBits(n.toLong, minBits = 8)
      val occ = df.select(
          Similarity.signBits(col("embedding"), bits).as("bucket"))
        .groupBy("bucket").count()
        .agg(max(col("count"))).as[Long].head()
      // near-random vectors: the self-join's hottest bucket must stay O(1)
      // as n grows 16× — the property a fixed nBits loses
      assert(occ <= 16, s"n=$n bits=$bits max occupancy $occ")
    }
  }

  test("embeddingNearDups: AutoBits default on planted dups") {
    val corpus = planted // 30 vectors, clusters of ~identical directions
    val auto = Similarity.embeddingNearDups(corpus, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto.nonEmpty, "planted in-cluster pairs must survive auto-sized LSH")
    auto.foreach { case (a, b) =>
      assert(a % 3 === b % 3, s"cross-cluster pair ($a,$b)")
    }
  }

  test("1-NN leave-one-out label accuracy: perfect on planted clusters, dented by a planted mislabel") {
    // labels = geometric cluster (i % 3): every vector's nearest in-bucket
    // neighbor shares its cluster, so per-label accuracy is exactly 1.0
    val labeled = planted.withColumn("label", (col("vec_id") % 3).cast("int"))
    def accuracy(e: org.apache.spark.sql.DataFrame) = {
      val nn = Similarity.topKNeighborsLsh(e, e, k = 1, nBits = 8)
      nn.join(e.select(col("vec_id").as("probe_id"),
            col("label").as("probe_label")), Seq("probe_id"))
        .join(e.select(col("vec_id").as("cand_id"),
            col("label").as("cand_label")), Seq("cand_id"))
        .groupBy(col("probe_label").as("label"))
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("cand_label") === col("probe_label"), 1L)
            .otherwise(0L)).as("n_correct"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n_eval"), 6))
        .select("label", "n_eval", "n_correct", "accuracy")
        .as[(Int, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    }
    val clean = accuracy(labeled)
    assert(clean.map(_._2).sum === 30L,
      "tight clusters: every probe finds an in-bucket neighbor")
    assert(clean.forall(_._4 === 1.0), s"got $clean")
    // flip vec 0's label: its own probe row is now wrong, and every probe
    // whose 1-NN is vec 0 loses a point — accuracy strictly drops
    val flipped = planted.withColumn("label",
      when(col("vec_id") === 0, lit(1)).otherwise(col("vec_id") % 3).cast("int"))
    val dented = accuracy(flipped)
    assert(dented.map(_._3).sum < 30L, s"mislabel must dent agreement: $dented")
  }

  test("groupCentroidProfile: known two-group geometry against the global centroid") {
    // group a: all (1,0) — centroid (1,0); group b: all (0,1) — centroid
    // (0,1); equal sizes ⇒ global centroid (0.5,0.5): cos to global =
    // 0.5/(1·√0.5) = 0.707107 for BOTH groups
    val df = Seq(
      (0L, "a", Array(1f, 0f)), (1L, "a", Array(1f, 0f)),
      (2L, "b", Array(0f, 1f)), (3L, "b", Array(0f, 1f)))
      .toDF("vec_id", "source", "embedding")
    val got = Similarity.groupCentroidProfile(df, "source", "embedding")
      .orderBy("source")
      .select("source", "n", "centroid_l2", "cos_to_global")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(got === Seq(("a", 2L, 1.0, 0.707107), ("b", 2L, 1.0, 0.707107)))
    // a cancelling group: centroid_l2 collapses to 0 (incoherent mix)
    val mix = df.unionByName(Seq(
      (4L, "c", Array(1f, 1f)), (5L, "c", Array(-1f, -1f)))
      .toDF("vec_id", "source", "embedding"))
    val c = Similarity.groupCentroidProfile(mix, "source", "embedding")
      .where(col("source") === "c")
      .select("centroid_l2").as[Double].head()
    assert(c === 0.0)
  }

  test("float_vec_dot_dec: bit-identical to the HOF reference form") {
    val rnd = new scala.util.Random(7)
    def vec(n: Int) = Array.fill(n)((rnd.nextDouble() * 2 - 1).toFloat)
    val rows = Seq.fill(200)((vec(64), vec(64))) ++ Seq(
      // edge shapes: zeros, signed zero, tiny/huge magnitudes, empty
      (Array(0.0f, -0.0f, 1.5f), Array(-0.0f, 0.0f, 2.5f)),
      // magnitudes stay within the documented |Σ| < 10^14 contract
      (Array(1e-30f, 1e5f, -1e-30f), Array(1e-30f, 1e-10f, 1e5f)),
      (Array.empty[Float], Array.empty[Float]))
    val df = rows.toDF("a", "b").select(
      Similarity.dotExact(col("a"), col("b")).as("native"),
      Similarity.dotExactHof(col("a"), col("b")).as("hof"))
    df.collect().zipWithIndex.foreach { case (r, i) =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"row $i: native ${r.getDouble(0)} != hof ${r.getDouble(1)}")
    }
    // null-poison parity: mismatched lengths are NULL in both forms
    // (zip_with pads with nulls; the native loop checks lengths)
    val mism = Seq((Array(1.0f, 2.0f), Array(1.0f)))
      .toDF("a", "b").select(
        Similarity.dotExact(col("a"), col("b")).as("native"),
        Similarity.dotExactHof(col("a"), col("b")).as("hof"))
      .collect().head
    assert(mism.isNullAt(0) && mism.isNullAt(1))
  }

  test("semDedupPairs: exact within cells, in-cluster only, keyed join") {
    val corpus = planted // 3 planted clusters of near-identical directions
    val df = Similarity.semDedupPairs(corpus, nSeeds = 3, threshold = 0.9)
    val pairs = df.select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty, "planted in-cluster dups must be found")
    pairs.foreach { case (a, b, c) =>
      assert(a % 3 === b % 3, s"cross-cluster pair ($a,$b)")
      assert(c >= 0.9 && a < b)
    }
    // with 3 seeds from 3 planted clusters (seeds 0,1,2 — one per
    // cluster), every in-cluster pair shares a cell, so the within-cell
    // search is EXHAUSTIVE: result == all threshold-qualifying pairs
    val brute = corpus.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .join(corpus.select(col("vec_id").as("id_b"), col("embedding").as("vb")),
        col("id_a") < col("id_b"))
      .where(Similarity.cosineExact(col("va"), col("vb")) >= 0.9 &&
        col("id_a") % 3 === col("id_b") % 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == brute,
      "within-cell search must be exhaustive on cluster-aligned seeds")
    // scale shape: the pair search is a hash join on the cell id
    assertKeyedJoins(df, "semDedupPairs")
  }

  test("assignToSeeds: 256 seeds — broadcast relation, constant plan size, window-argmax parity") {
    val rnd = new scala.util.Random(43)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    // 256 seeds is already past where the old plan-literal form was
    // degenerate (a 256-branch projection of typedlit vectors); the
    // broadcast-relation form must keep the plan CONSTANT-SIZE in nSeeds
    val df = Similarity.assignToSeeds(
      corpus, Similarity.seedsRelation(corpus, 256))
    val got = df.select("vec_id", "cell", "seed_id")
      .as[(Long, Int, Long)].collect().toSeq.sortBy(_._1)
    assert(got.size === 300)

    // independent reference plan for the same contract: full vec×seed
    // score relation + window argmax (rounded cosine desc, cell asc);
    // cell = 0-based rank by seed_id, attached from a driver-built map
    // (test-only collect)
    val seedRel = Similarity.seedsRelation(corpus, 256)
    val cellDf = seedRel.select("seed_id").as[Long].collect().sorted
      .zipWithIndex.toSeq.toDF("seed_id", "cell")
    val seeds = seedRel.join(cellDf, Seq("seed_id"))
    val v = corpus.select(col("vec_id"), col("embedding"),
      sqrt(Similarity.norm2Exact(col("embedding"))).as("nv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(desc("cos"), asc("cell"))
    val ref = v.crossJoin(seeds)
      .select(col("vec_id"), col("cell"), col("seed_id"),
        round(Similarity.dotExact(col("embedding"), col("sv"))
          / (col("nv") * col("sn")), 6).as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("vec_id", "cell", "seed_id")
      .as[(Long, Int, Long)].collect().toSeq.sortBy(_._1)
    assert(got === ref, "argmax assignment must match the window reference")

    // plan shape: the seeds ride a BroadcastExchange; the only unkeyed
    // join is the one-row singleton attach (assertKeyedJoins allows
    // exactly that); and the plan does NOT grow with nSeeds — the
    // literal form would be ~32× larger at 256 vs 8
    val nodes = collectPlanNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.nodeName.contains("Broadcast")),
      "seeds must enter via a broadcast, not plan literals")
    assertKeyedJoins(df, "assignToSeeds(256)")
    val small = Similarity.assignToSeeds(
      corpus, Similarity.seedsRelation(corpus, 8))
    val sizeBig = df.queryExecution.optimizedPlan.treeString.length
    val sizeSmall = small.queryExecution.optimizedPlan.treeString.length
    assert(sizeBig <= sizeSmall * 3 / 2,
      s"plan size must not scale with nSeeds: 256→$sizeBig vs 8→$sizeSmall")
  }

  test("semDedupRate: per-threshold pair/removal accounting under keep-smallest-id") {
    // seeds = 2 lowest ids: (1,0) and (0,1); cell 0 = {1,3,4} ((1,1) ties
    // both seeds at 0.707107 → lower cell), cell 1 = {2,5}
    // pairs: (1,3)=1.0, (1,4)=(3,4)=0.707107, (2,5)=1.0
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, Array(1f, 0f)),
      (4L, Array(1f, 1f)), (5L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedupRate(vecs, nSeeds = 2,
        thresholds = Seq(0.8, 0.5))  // unsorted on purpose
      .orderBy("threshold")
      .as[(Double, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (0.5, 4L, 3L, 0.6),   // removed {3,4,5}
      (0.8, 2L, 2L, 0.4)))  // only the exact dups (1,3),(2,5) survive
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("splitCentroidDrift: centroid cosine per group, missing-split groups drop") {
    val d = Seq(
      // group A: μ_train=(0.5,0.5), μ_val=(1,1) → cos 1, gap √.5−√2
      (1L, "A", "train", Array(1f, 0f)),
      (2L, "A", "train", Array(0f, 1f)),
      (3L, "A", "val", Array(1f, 1f)),
      (4L, "A", "test", Array(9f, 9f)),  // test rows never enter
      // group B: train only → inner join drops it
      (5L, "B", "train", Array(1f, 0f))
    ).toDF("vec_id", "grp", "split", "embedding")
    val got = Similarity.splitCentroidDrift(d, "grp", "embedding",
        col("split"))
      .orderBy("grp")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(got === Seq(("A", 2L, 1L, 1.0, -0.707107)))
    spark.catalog.clearCache()
  }

  test("q_knn_auto (gated surface): AutoBits accuracy holds the pinned form's gate") {
    // VERDICT r17 #6: the production AutoBits index (occupancy-bounded
    // buckets — the 100×-proven scale form) was probe-only; this is its
    // continuously-run gate. Both relations are fully deterministic on
    // the fixture (seeded hyperplanes, exact cosine, total tie order), so
    // the comparison needs no tolerance: the AutoBits form's OVERALL 1-NN
    // label agreement must be at least the oracle-pinned 8-bit form's on
    // the same corpus — switching to the scale path costs no eval
    // quality at fixture scale. q_knn_auto itself is oracle-less by
    // contract (the adaptive bit count can't be a static SQL literal);
    // this spec is its substance gate.
    val dir = "/root/testdata/sf0.001"
    def overall(name: String): (Long, Long) = {
      val r = graft.SparkEntry.queries(name)(spark, dir)
        .agg(sum("n_eval").cast("long"), sum("n_correct").cast("long"))
        .as[(Long, Long)].head()
      r
    }
    val (evalP, okP) = overall("q_knn_accuracy")
    val (evalA, okA) = overall("q_knn_auto")
    assert(evalP > 0 && evalA > 0, "both forms must evaluate probes")
    val accP = okP.toDouble / evalP
    val accA = okA.toDouble / evalA
    info(f"pinned 8-bit: $okP/$evalP = $accP%.4f; AutoBits: $okA/$evalA = $accA%.4f")
    assert(accA >= accP,
      f"AutoBits accuracy $accA%.4f fell below the pinned form's $accP%.4f")
    // and the schema matches the pinned gated query's (driver rows>0
    // check reads the same shape)
    assert(graft.SparkEntry.queries("q_knn_auto")(spark, dir).columns.toSeq ===
      Seq("label", "n_eval", "n_correct", "accuracy"))
  }
}
