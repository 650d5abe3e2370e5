package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants for [[Graph.pageRank]]: the fixed point on a symmetric
  * ring (uniform), centrality ordering on a star, mass conservation on
  * dangling-free graphs, and partition invariance (the decimal-sum
  * contract).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int) =
    Graph.pageRank(edges.toDF("src", "dst"), iters)
      .as[(Long, Double)].collect().toMap

  test("symmetric ring: uniform 1/N is the fixed point") {
    // 0-1-2-3-0, both directions: deg 2 everywhere
    val ring = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val sym = ring ++ ring.map(_.swap)
    val r = ranks(sym, 3)
    assert(r.size === 4)
    r.values.foreach(v => assert(math.abs(v - 0.25) < 1e-8, r))
  }

  test("star: the hub outranks every leaf") {
    // hub 0 <-> leaves 1..5 (symmetric)
    val star = (1L to 5L).flatMap(l => Seq((0L, l), (l, 0L)))
    val r = ranks(star, 3)
    assert((1L to 5L).forall(l => r(0L) > r(l)), r)
    // leaves are symmetric — identical ranks
    assert((1L to 5L).map(r).distinct.size === 1, r)
  }

  test("dangling-free graph conserves rank mass (Σ ≈ 1)") {
    val star = (1L to 5L).flatMap(l => Seq((0L, l), (l, 0L)))
    // final ranks are rounded to 6 decimals → up to 0.5e-6 error per node
    val total = ranks(star, 3).values.sum
    assert(math.abs(total - 1.0) < 1e-5, s"mass: $total")
  }

  test("triangleCounts: K4, disjoint triangle, and non-triangles") {
    // K4 on {0,1,2,3}: C(4,3)=4 triangles, each node in 3 of them;
    // a separate triangle {10,11,12}: 1 each; a dangling path 20-21-22
    // (open wedge, no triangle) must be absent entirely.
    val edges = Seq(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (11L, 10L), (10L, 12L), (12L, 11L), // any orientation + dup-safe
      (11L, 10L),
      (20L, 21L), (21L, 22L))
    val out = Graph.triangleCounts(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(out === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L,
      10L -> 1L, 11L -> 1L, 12L -> 1L))
    spark.catalog.clearCache()
  }

  test("adamicAdar: path endpoints score 1/ln(deg(center)); adjacency excluded") {
    // Path 0-1-2 plus hub 5 connected to {0,2,6,7}: pair (0,2) has common
    // neighbors 1 (deg 2) and 5 (deg 4) → 1/ln2 + 1/ln4; pair (6,7) has
    // only hub 5 → 1/ln4; adjacent pairs like (0,1) never appear.
    val edges = Seq((0L, 1L), (1L, 2L),
      (5L, 0L), (5L, 2L), (5L, 6L), (5L, 7L))
    val got = Graph.adamicAdar(edges.toDF("src", "dst"))
      .select("u", "v", "n_common", "aa_score")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    def q(x: Double) = // the per-wedge DECIMAL(30,10) quantization
      BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: BigDecimal) = BigDecimal(x.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((0L, 2L)) ===
      (2L, r6(q(1.0 / math.log(2)) + q(1.0 / math.log(4)))))
    assert(got((6L, 7L)) === (1L, r6(q(1.0 / math.log(4)))))
    assert(!got.contains((0L, 1L)) && !got.contains((0L, 5L)),
      "adjacent pairs are not predictions")
    // every common-neighbor pair of hub 5's neighborhood appears
    assert(got.keySet === Set((0L, 2L), (0L, 6L), (0L, 7L), (2L, 6L),
      (2L, 7L), (6L, 7L), (1L, 5L)))
    spark.catalog.clearCache()
  }

  test("bfsDistances: path + branch levels exact, unreachable absent, bound respected") {
    // 0-1-2-3-4-5 path with a branch 2-10; from seed 0 with maxHops 4:
    // dist(1)=1, dist(2)=2, dist(3)=3, dist(10)=3, dist(4)=4; 5 is 5 hops
    // away (outside the bound) and node 99-100 is a disconnected edge.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (2L, 10L), (99L, 100L))
    val got = Graph.bfsDistances(edges.toDF("src", "dst"), seed = 0L,
        maxHops = 4)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3, 10L -> 3,
      4L -> 4))
    spark.catalog.clearCache()
  }

  test("adamicAdar: hub cap drops wedges centered on over-degree hubs") {
    // star center 9 with 5 leaves: cap 4 < deg 5 removes every wedge —
    // no predicted pairs at all
    val edges = (1L to 5L).map(i => (9L, i))
    val out = Graph.adamicAdar(edges.toDF("src", "dst"), maxHubDegree = 4)
      .collect()
    assert(out.isEmpty)
    spark.catalog.clearCache()
  }

  test("clusteringCoef: K4 is fully clustered, a pendant dilutes its hub") {
    // K4 on {0,1,2,3} (coef 1.0 everywhere) plus a pendant 4 attached to
    // node 0: node 0 now has deg 4 but still 3 triangles → 2·3/(4·3) =
    // 0.5; node 4 (deg 1) must be ABSENT, not 0.0; open wedge 20-21-22:
    // center 21 has deg 2, 0 triangles → coef 0.0 present as a row.
    val edges = Seq(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 0L), // pendant, reversed orientation + duplicate below
      (0L, 4L),
      (20L, 21L), (21L, 22L))
    val out = Graph.clusteringCoef(edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Double)].collect()
      .map { case (n, d, t, c) => n -> ((d, t, c)) }.toMap
    assert(out === Map(
      0L -> ((4L, 3L, 0.5)),
      1L -> ((3L, 3L, 1.0)), 2L -> ((3L, 3L, 1.0)), 3L -> ((3L, 3L, 1.0)),
      21L -> ((2L, 0L, 0.0))))
    spark.catalog.clearCache()
  }

  test("triangleCounts == brute force on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 30
    val edges = (for {
      a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < 0.2
    } yield (a, b)).toSeq
    val es = edges.toSet
    val brute = scala.collection.mutable.Map.empty[Long, Long]
    for {
      a <- 0L until n; b <- (a + 1) until n; c <- (b + 1) until n
      if es((a, b)) && es((b, c)) && es((a, c))
    } Seq(a, b, c).foreach(v => brute(v) = brute.getOrElse(v, 0L) + 1)
    val out = Graph.triangleCounts(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(out === brute.toMap)
    spark.catalog.clearCache()
  }

  test("dangling redistribution: sinks return their mass, Σ ranks ≈ 1") {
    // directed chain into a sink + a side sink: 0→1→2, 0→3; nodes 2 and 3
    // have no out-edges. Without redistribution mass leaks every
    // iteration; with it the total stays 1.
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 3L)).toDF("src", "dst")
    val dropped = Graph.pageRank(edges, 3)
      .as[(Long, Double)].collect().toMap
    val full = Graph.pageRank(edges, 3, redistributeDangling = true)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(full.values.sum - 1.0) < 1e-5,
      s"redistributed mass: ${full.values.sum}")
    assert(dropped.values.sum < 1.0 - 1e-3,
      s"dropped-mass form must leak on a sink graph: ${dropped.values.sum}")
    spark.catalog.clearCache()
  }

  test("broadcast hints are gated by the measured node count") {
    val star = (1L to 5L).flatMap(l => Seq((0L, l), (l, 0L)))
    def broadcastHints(threshold: Long): Int = {
      val df = Graph.pageRank(star.toDF("src", "dst"), 2,
        broadcastMaxNodes = threshold)
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.hint.leftHint.exists(_.strategy.isDefined) ||
              j.hint.rightHint.exists(_.strategy.isDefined) => j
      }.size
    }
    // node count 6: above the threshold the rank/deg/contrib joins carry
    // NO broadcast hint (AQE owns the choice); below it they all do
    assert(broadcastHints(threshold = 0) === 0,
      "no forced broadcast above the node-count threshold")
    assert(broadcastHints(threshold = 100) > 0,
      "small graphs keep the broadcast hints")
    // plan-only switch: identical ranks either way
    val a = Graph.pageRank(star.toDF("src", "dst"), 2, broadcastMaxNodes = 0)
      .as[(Long, Double)].collect().toMap
    val b = Graph.pageRank(star.toDF("src", "dst"), 2)
      .as[(Long, Double)].collect().toMap
    assert(a === b)
    spark.catalog.clearCache()
  }

  test("dangling form: lineage cuts don't change ranks, caches stay bounded") {
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 3L), (3L, 1L)).toDF("src", "dst")
    // semantics: 6 iterations fully lazy (cadence past iters — still a
    // tractable ~3^6-path tree) vs cuts every 2: bit-identical output,
    // localCheckpoint is plan-only
    val lazyForm = Graph.pageRank(edges, 6, redistributeDangling = true,
        checkpointEvery = 100)
      .as[(Long, Double)].collect().toMap
    spark.catalog.clearCache()
    val cut6 = Graph.pageRank(edges, 6, redistributeDangling = true,
        checkpointEvery = 2)
      .as[(Long, Double)].collect().toMap
    assert(cut6 === lazyForm)
    spark.catalog.clearCache()
    // boundedness: 20 iterations is INTRACTABLE fully lazy (the plan
    // tree grows ~3^iters paths — the reason the cut exists); with cuts
    // every 4 it completes, conserves rank mass, and the superseded
    // iterations' caches were released on each cut: what remains is the
    // lazy tail since the last cut (≤ checkpointEvery = 3 persists), the
    // edge/node persists, and ≤ one checkpoint RDD per cut (4) awaiting
    // ContextCleaner GC — 9 entries of our own, far below the ~20 the
    // unreleased form would keep. The assertion is DELTA-scoped: sbt runs
    // suites in parallel against the SHARED SparkContext, so the global
    // getPersistentRDDs count includes whatever Dedup/Similarity/
    // CorpusStats persists happen to be alive right now (the round-9
    // flake); snapshotting the key set first bounds only entries created
    // during THIS run, with headroom for the few a concurrently-starting
    // suite may add in the window.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cut20 = Graph.pageRank(edges, 20, redistributeDangling = true,
        checkpointEvery = 4)
      .as[(Long, Double)].collect().toMap
    val cached = spark.sparkContext.getPersistentRDDs.keySet.diff(before).size
    assert(cached <= 15,
      s"new cache entries after 20 cut iterations: $cached")
    assert(math.abs(cut20.values.sum - 1.0) < 1e-5,
      s"redistributed mass after 20 iterations: ${cut20.values.sum}")
    spark.catalog.clearCache()
  }

  test("partition invariance: repartitioned edges give identical ranks") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L), (2L, 1L),
      (1L, 0L), (3L, 0L), (0L, 3L))
    val base = ranks(edges, 3)
    val repart = Graph.pageRank(
        edges.toDF("src", "dst").repartition(7), 3)
      .as[(Long, Double)].collect().toMap
    assert(repart === base)
    spark.catalog.clearCache()
  }

  test("kCore: planted K4 core survives, tendrils and a triangle peel away") {
    // K4 on {0,1,2,3} (3-core), a tendril 3–10–11, and a triangle
    // {20,21,22} (2-core — must vanish at k=3). Peeling the tendril takes
    // TWO rounds (11 first, then 10) — multi-round behavior, not one pass.
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val fwd = k4 ++ Seq((3L, 10L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val got = Graph.kCore(edges, k = 3, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
      s"exactly the K4 at within-core degree 3, got $got")
    // fixpoint: a 6th peel changes nothing (the gate's rounds=5 suffice)
    val more = Graph.kCore(edges, k = 3, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(more === got)
    // k=2 keeps the triangle too, still drops the tendril
    val k2 = Graph.kCore(edges, k = 2, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(k2.keySet === Set(0L, 1L, 2L, 3L, 20L, 21L, 22L))
    spark.catalog.clearCache()
  }

  test("degreeHistogram: star graph — hub degree n, n leaves of degree 1") {
    // star 0–{1,2,3}: symmetric edges; hub 0 has degree 3, leaves degree 1
    val fwd = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val got = Graph.degreeHistogram(edges).orderBy("degree")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 3L), (3L, 1L)))
    spark.catalog.clearCache()
  }

  test("hits: the busier hub dominates, authorities are L1-normalized") {
    // hub 0 links 3 authorities, hub 1 links one of them: 0 must out-hub
    // 1, authority 10 (linked by both) must top the authority side
    val edges = Seq((0L, 10L), (0L, 11L), (0L, 12L), (1L, 10L))
      .toDF("src", "dst")
    val r = Graph.hits(edges, iters = 2)
      .as[(Long, Option[Double], Option[Double])].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(0L)._1.get > r(1L)._1.get, s"hub order: $r")
    assert(r(10L)._2.get > r(11L)._2.get, s"authority order: $r")
    assert(r(11L)._2 === r(12L)._2, s"symmetric authorities: $r")
    // sources have no in-edges → no authority; sinks no hub
    assert(r(0L)._2.isEmpty && r(10L)._1.isEmpty)
    val authSum = r.values.flatMap(_._2).sum
    assert(math.abs(authSum - 1.0) < 1e-5, s"L1 norm: $authSum")
    spark.catalog.clearCache()
  }

  test("hits: lazy iters=2 expansion stays bounded; iters>2 persists per round") {
    // the iters<=2 form deliberately does NOT persist ar/hr: the
    // persisted form's four materialization barriers measured 2.3-2.5 s
    // vs 0.9-1.4 s lazy at sf0.1. Exchange reuse does
    // NOT cover the double-read (AQE per-branch replanning defeats
    // canonicalization here — measured zero ReusedExchange), so the lazy
    // cost is the FULL 2^iters expansion: bounded and cheap at iters=2,
    // a scale-killer beyond. This audit pins both halves of that
    // contract so a deepened lineage or a dropped persist fails the
    // suite, not a 100 TB run.
    val edges = (0L until 200L).map(i => (i % 20L, 100L + i % 30L))
      .distinct.toDF("src", "dst")
    val lazyForm = Graph.hits(edges, iters = 2)
    // collect, not a noop write: DataFrameWriter re-plans into its own
    // QueryExecution and the frame's own adaptive plan would stay
    // isFinalPlan=false — the expansion evidence must come from the
    // EXECUTED tree
    lazyForm.collect()
    val lazyNodes = collectPlanNodes(lazyForm.queryExecution.executedPlan)
    val stages = lazyNodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec])
    assert(stages > 0, "expected shuffle stages in the executed hits plan")
    // measured envelope: 90 stages at iters=2 (the full 2^2-shape
    // re-derivation). 3 rounds unpersisted would roughly double-per-level
    // past this cap; the persisted iters>2 form never enters this branch.
    assert(stages <= 120,
      s"lazy hits expansion grew past the bounded iters=2 envelope: " +
        s"$stages shuffle stages")
    // the EDGE persist is intentional (read every round); what must stay
    // lazy at iters<=2 are the per-round raw-score relations (they carry
    // the `raw` column)
    def roundCaches(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      nodes.count(n => n.nodeName.contains("InMemoryTableScan") &&
        n.output.exists(_.name == "raw"))
    assert(roundCaches(lazyNodes) === 0,
      "iters<=2 must stay lazy (no per-round persist)")
    val cached = roundCaches(collectPlanNodes(
      Graph.hits(edges, iters = 3).queryExecution.executedPlan))
    assert(cached >= 1,
      "iters>2 must persist the per-round relations (sssp discipline)")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("sssp: the cheap two-hop path beats the direct expensive edge") {
    // 0→1 costs 1.0 direct, but 0→2→1 costs 0.2; node 9 is unreachable
    val edges = Seq((0L, 1L, "1.0"), (0L, 2L, "0.1"), (2L, 1L, "0.1"),
        (8L, 9L, "0.5"))
      .toDF("src", "dst", "ws")
      .select(col("src"), col("dst"),
        col("ws").cast("decimal(12,6)").as("w"))
    val d = Graph.sssp(edges, seed = 0L, rounds = 4)
      .select(col("node"), col("d").cast("double"))
      .as[(Long, Option[Double])].collect().toMap
    assert(d(0L) === Some(0.0))
    assert(d(2L) === Some(0.1))
    assert(d(1L) === Some(0.2), s"relaxation must find the 2-hop path: $d")
    assert(d(9L).isEmpty, s"disconnected component stays NULL: $d")
    spark.catalog.clearCache()
  }
}
