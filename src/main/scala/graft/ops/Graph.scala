package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph operators over an edge relation — the entity-importance signal a
  * curation stack computes over join-derived graphs (domain links, shared
  * fingerprints, buyer/supplier relations).
  *
  * Engine-portable numeric contract: contribution sums accumulate in
  * DECIMAL (order-independent), every other step is a deterministic IEEE
  * double op — so intermediate ranks are bit-identical across
  * partitionings and engines WITHOUT intermediate rounding, and a DuckDB
  * oracle can replay the iterations as unrolled CTEs. Rounding happens
  * exactly once, on the final output, at 6 decimals: per-iteration
  * round(…, 9) was measurably non-portable (one fixture row landed on a
  * round-half boundary where the two engines' double-rounding
  * implementations disagree by 1 ulp; 6-decimal single-rounding is the
  * precision the other 87 oracles have proven portable).
  */
object Graph {

  private val Dec = "decimal(28,12)"

  /** PageRank with a FIXED iteration count over `(src, dst)` edges:
    * rank⁽ⁱ⁺¹⁾(v) = (1−d)/N + d·(Σ_{u→v} rank⁽ⁱ⁾(u)/outdeg(u) [+ D⁽ⁱ⁾/N]),
    * rank⁽⁰⁾ = 1/N. With `redistributeDangling` the mass D⁽ⁱ⁾ parked on
    * out-degree-0 nodes is spread uniformly each iteration, so ranks sum
    * to 1 (the form NetworkX/standard references compute); without it the
    * dangling mass is dropped (ranks sum < 1 — fine for symmetric edge
    * sets, which have no dangling nodes, and cheaper by one node-scale
    * anti-join + one-row aggregate per iteration).
    *
    * Scale posture: each iteration is ONE keyed join (ranks×edges on src
    * — ranks is node-scale, edges edge-scale) plus one hash aggregate on
    * dst and one left join back to the node set; iteration count is a
    * constant, so the lineage is a fixed-depth declarative plan Catalyst
    * sees whole (no driver loop state). The edge relation is partitioned
    * by dst ONCE before the loop: when the node-scale relations broadcast,
    * the per-iteration joins preserve that partitioning and the
    * contribution aggregate reuses it — the edge-scale shuffle happens
    * once, not once per iteration. The node count is the single
    * driver-side scalar (one count job), and it GATES the broadcast
    * hints (VERDICT r07 #2): above `broadcastMaxNodes` the same plan
    * runs hint-free and AQE picks the join sides — the rank relation of
    * a node set that outgrows executor memory is never force-broadcast.
    * The dangling sum accumulates in DECIMAL (order-independent), like
    * the contribution sums.
    *
    * Lineage and cache lifetime (dangling form): each iteration's plan
    * references the previous rank ~3× (contribution join, dangling
    * aggregate, node re-join), so the fully-lazy LOGICAL TREE grows
    * ~3^iters paths — persist stops re-COMPUTATION but Catalyst still
    * walks the tree, and past ~10 lazy iterations analysis itself
    * becomes the bottleneck (measured: 20 lazy iterations are
    * intractable). Every `checkpointEvery` iterations the rank lineage
    * is therefore cut with an eager `localCheckpoint` (the
    * [[graft.ops.CorpusStats.bpeTrain]] pattern), which also releases
    * the superseded iterations' caches — plan size and storage stay
    * bounded by the cut cadence, constant in `iters`. The default (6)
    * keeps short oracle-gated runs (3 iterations) on the single
    * fully-lazy declarative plan; remaining entries are caller-managed
    * like the edge/node persists. Fault-tolerance trade: `localCheckpoint`
    * stores blocks on executors WITHOUT lineage, so on a multi-executor
    * cluster an executor lost after a cut fails the job instead of
    * recomputing — for multi-hour runs on preemptible hardware use
    * reliable checkpointing (`sc.setCheckpointDir` + `.checkpoint()`),
    * same cadence, at the cost of a distributed write per cut.
    */
  def pageRank(edges: DataFrame, iters: Int, d: Double = 0.85,
               redistributeDangling: Boolean = false,
               broadcastMaxNodes: Long = 10000000L,
               checkpointEvery: Int = 6): DataFrame = {
    require(iters >= 1, s"iters: $iters")
    require(checkpointEvery >= 1, s"checkpointEvery: $checkpointEvery")
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node")).distinct()
      .unionByName(e.select(col("dst").as("node")).distinct()).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count() // the one driver scalar; also materializes both
    def bcast(df: DataFrame): DataFrame =
      if (n <= broadcastMaxNodes) broadcast(df) else df
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var rank = nodes.withColumn("rank", lit(1.0) / n)
    var supersedable = List.empty[DataFrame]
    for (it <- 1 to iters) {
      // the dangling form reads rank⁽ⁱ⁻¹⁾ from TWO branches (contribution
      // join + dangling aggregate); unpersisted, each iteration's lineage
      // re-derives the previous one twice — 2^iters blowup (measured
      // 6.6 s vs 2.3 s for the drop-mass form at sf0.1). Persisting the
      // node-scale relation per iteration makes it linear; on
      // checkpointEvery boundaries an EAGER localCheckpoint cuts the
      // lineage instead, which is the one safe point to release the
      // superseded iterations' caches (their data is materialized into
      // the checkpoint, so nothing can recompute through them).
      if (redistributeDangling) {
        if (it > 1 && (it - 1) % checkpointEvery == 0) {
          rank = rank.localCheckpoint()
          supersedable.foreach(_.unpersist())
          supersedable = Nil
        } else {
          rank = rank.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          supersedable ::= rank
        }
      }
      val contrib = e
        .join(bcast(rank.withColumnRenamed("node", "src")), Seq("src"))
        .join(bcast(deg), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("deg")).cast(Dec).as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).cast("double").as("in_sum"))
      val base = nodes.join(bcast(contrib), Seq("node"), "left")
      rank =
        if (!redistributeDangling)
          base.select(col("node"),
            (lit((1 - d) / n) + lit(d) * coalesce(col("in_sum"), lit(0.0)))
              .as("rank"))
        else {
          // mass parked on sinks this iteration: node-scale anti-join
          // against the out-degree relation, decimal-exact one-row sum
          val dang = rank
            .join(deg.select(col("src").as("node")), Seq("node"), "left_anti")
            .agg(coalesce(sum(col("rank").cast(Dec)).cast("double"), lit(0.0))
              .as("dang"))
          base.crossJoin(broadcast(dang))
            .select(col("node"),
              (lit((1 - d) / n) + lit(d)
                * (coalesce(col("in_sum"), lit(0.0)) + col("dang") / n))
                .as("rank"))
        }
    }
    rank.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** k-CORE membership by fixed-round peeling — the density filter of
    * graph curation (spam rings and link farms live in high cores;
    * low-core tendrils are the first things a graph-cleaning pass drops):
    * repeatedly delete nodes of degree < k until no such node remains;
    * what survives is the k-core.
    *
    * `rounds` is FIXED (the [[pageRank]] iteration contract — an
    * unrollable, oracle-mirrorable plan): each round is one degree
    * aggregate over the remaining edges and two semi-join-shaped keyed
    * joins filtering both endpoints — all hash exchanges on the node key,
    * nothing quadratic. Peeling converges in ≤ diameter-ish rounds on
    * real graphs; a production run loops to an empty-delta fixpoint
    * (count check per round) instead of a fixed count — same per-round
    * plan, data-dependent trip count. Eager `localCheckpoint` every
    * `checkpointEvery` rounds bounds the lazy plan exactly as in
    * [[pageRank]].
    *
    * Input: a SYMMETRIC edge relation (`src`, `dst`) — callers symmetrize
    * (degree means undirected degree). Output: surviving `node`s with
    * their within-core `degree` after `rounds` peels.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
            checkpointEvery: Int = 3): DataFrame = {
    require(k >= 1, s"k: $k")
    require(rounds >= 1, s"rounds: $rounds")
    require(checkpointEvery >= 1, s"checkpointEvery: $checkpointEvery")
    // Eager entry checkpoint: round 1 reads `edges` from THREE plan
    // branches (degree aggregate + both endpoint semi-join filters), and
    // those map stages of one job run concurrently — a lazy persist races
    // its own materialization and each branch recomputes the input (for
    // q_kcore that input is the support-floored co-purchase self-join).
    // One materialization here, then every peel reads the checkpoint —
    // the [[Dedup.connectedComponents]] label discipline applied to the
    // peel input. At cluster scale substitute a reliable checkpoint()
    // for fault tolerance, exactly as the pageRank scaladoc notes.
    var e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    for (r <- 1 to rounds) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
      val keepS = keep.select(col("src").as("__ns"))
      val keepD = keep.select(col("src").as("__nd"))
      e = e.join(keepS, col("src") === col("__ns"))
        .join(keepD, col("dst") === col("__nd"))
        .select(col("src"), col("dst"))
      // keep feeds two join branches; past the cut cadence the lazy chain
      // re-derives every earlier round's filter twice per branch
      if (r % checkpointEvery == 0) e = e.localCheckpoint()
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** Degree DISTRIBUTION of a symmetric edge relation: per out-degree,
    * the node count — the first graph-health read before any iterative
    * job: a heavy tail predicts skewed joins (hub nodes dominate a
    * partition), the mode sizes per-iteration shuffle volume, and the
    * degree-1 mass bounds what pruning leaves. Two keyed map-side-combined
    * aggregates (node → degree, degree → count), both linear in |E| then
    * |V| — the [[graft.ops.Dedup.duplicationSpectrum]] posture on graphs.
    * Input contract: `edges(src, dst)` already symmetric and distinct
    * (the pageRank edge relation), so out-degree = total degree.
    */
  def degreeHistogram(edges: DataFrame): DataFrame =
    edges.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).cast("long").as("n_nodes"))

  /** Per-node triangle participation counts over an undirected edge set
    * (any orientation, duplicates fine — canonicalized to distinct
    * `a < b` internally). Compact-forward with DEGREE ordering (Ortmann &
    * Brandes 2014 survey; public algorithm): orient every edge from the
    * (degree, id)-smaller endpoint to the larger, enumerate wedges at
    * their lowest-order corner, close each with a hash probe back into
    * the directed edge set. Each triangle is found exactly once at its
    * minimum-order corner, then credited to all three corners.
    *
    * Scale posture: both steps are keyed hash joins, and degree ordering
    * is what makes the wedge relation bounded — Σ outdeg⁺² with
    * outdeg⁺ = O(√|E|) on any graph (arboricity bound), where naive ID
    * orientation lets one dense hub emit deg² wedges. Measured on the
    * part co-purchase graph at sf0.1 the unordered form was the
    * single slowest query in the suite (25 s); the output is
    * orientation-invariant, so the oracle needs no mirror of the
    * internal order. Nodes in no triangle are absent from the result
    * (COALESCE at the call site if zeros are wanted).
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val canon = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") < col("b")) // drops self-loops
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = canon.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // total order: (deg, id); since a < b, a wins ties
    val aFirst = canon
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .withColumn("a_first", col("da") <= col("db")) // (deg,id): a<b breaks deg ties
    val dir = aFirst.select(
        when(col("a_first"), col("a")).otherwise(col("b")).as("u"),
        when(col("a_first"), col("b")).otherwise(col("a")).as("v"),
        when(col("a_first"), col("db")).otherwise(col("da")).as("dv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // wedges at the lowest-order corner u, legs ordered v < w in (deg, id)
    val wedges = dir.as("e1")
      .join(dir.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dv") < col("e2.dv") ||
            (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("cu"), col("e1.v").as("x"), col("e2.v").as("y"))
    // the closing edge is directed x→y exactly because ord(x) < ord(y)
    val tri = wedges.join(
        dir.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("cu").as("a"), col("x").as("b"), col("y").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).cast("long").as("n_triangles"))
  }

  /** Per-node LOCAL CLUSTERING COEFFICIENT over an undirected edge set:
    * coef(v) = 2·T(v) / (deg(v)·(deg(v)−1)), computed on the canonical
    * distinct `a < b` relation (any input orientation, duplicates fine).
    * Only deg ≥ 2 nodes appear — a single neighbor spans no wedge, so the
    * denominator is undefined there, and emitting 0.0 would conflate
    * "leaf" with "hub whose neighbors never meet" (the distinction graph
    * curation cares about: low-coef hubs are aggregator/spam candidates,
    * high-coef nodes sit in genuine communities).
    *
    * Scale posture: triangle counts come from [[triangleCounts]]
    * (degree-ordered wedge closing, every step a keyed hash join bounded
    * by Σ outdeg⁺² = O(|E|^1.5)); the degree relation is one more
    * map-side-combined aggregate over the same canonical edges; assembly
    * is a |V|-scale left join with COALESCE(T, 0) for triangle-less
    * nodes. Nothing here revisits the fact table. The one double division
    * is deterministic IEEE (2·T exact, deg·(deg−1) exact int64), rounded
    * once at 6 decimals per the module contract above.
    */
  def clusteringCoef(edges: DataFrame): DataFrame = {
    val canon = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") < col("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = canon.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).cast("long").as("degree"))
    val tri = triangleCounts(
      canon.select(col("a").as("src"), col("b").as("dst")))
    deg.where(col("degree") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round((coalesce(col("n_triangles"), lit(0L)) * 2L).cast("double") /
          (col("degree") * (col("degree") - 1L)), 6).as("clustering"))
  }

  /** Bounded-hop BFS distances from a seed node over an undirected edge
    * set: `(node, dist)` for every node within `maxHops` of `seed` —
    * the reachability primitive behind neighborhood sampling, blast-
    * radius analysis, and "how connected is this component" reads.
    *
    * Level-synchronous frontier expansion (the BSP/Pregel discipline):
    * round k joins the (k−1)-frontier against the symmetric edge
    * relation (keyed on the frontier node), distincts the neighbors, and
    * anti-joins the visited set — each round is two keyed exchanges over
    * frontier-scale relations, never node²; each round's frontier is an
    * eager localCheckpoint (feeds the next round AND the final union),
    * so round plans stay genuinely shallow.
    * Rounds are FIXED at maxHops — the bounded form that survives a
    * 1000-executor schedule (unbounded BFS wants the
    * [[graft.ops.Dedup.connectedComponents]] convergence loop).
    */
  def bfsDistances(edges: DataFrame, seed: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops: $maxHops")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val canon = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") < col("b")).distinct()
    // hash-partitioned on the frontier-join key ONCE (the [[pageRank]]
    // discipline): all maxHops rounds join on u and reuse the cached
    // partitioning — before, every round re-shuffled the edge relation
    val sym = canon.select(col("a").as("u"), col("b").as("v"))
      .unionByName(canon.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u"))
      .persist(lvl)
    val spark = edges.sparkSession
    import spark.implicits._
    // Per-round lineage CUT instead of per-round persist: each round's
    // frontier is an eager `localCheckpoint`, so the final union of
    // levels references maxHops shallow LogicalRDDs instead of a
    // maxHops-deep nest of cached plans. The lazy-persist form left the
    // whole tree in the plan: every downstream action re-analyzed it,
    // re-canonicalized each cached subtree for the cache lookup, and
    // re-rendered it for the SQL listener — measured ~1.3 s of
    // driver-only time per run at sf0.1 (QueryProfile: 2.7 s wall,
    // 0.2 s task time). The seed frontier is a LocalRelation (already
    // shallow) and `visited` a lazy union of checkpointed rounds, so
    // neither needs a persist. Cluster-scale note: as in [[pageRank]],
    // substitute a reliable checkpoint() for fault tolerance.
    var frontier = Seq(seed).toDF("node")
    var visited = frontier
    val levels = scala.collection.mutable.ArrayBuffer(
      frontier.select(col("node"), lit(0).as("dist")))
    (1 to maxHops).foreach { k =>
      val next = sym.join(frontier.select(col("node").as("u")), Seq("u"))
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint(true)
      levels += next.select(col("node"), lit(k).as("dist"))
      visited = visited.unionByName(next)
      frontier = next
    }
    levels.reduce(_ unionByName _)
  }

  /** Adamic–Adar link prediction over an undirected edge set (public
    * algorithm, Adamic & Adar 2003): for every NON-adjacent pair (u, v)
    * sharing ≥ 1 neighbor, score = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — common
    * neighbors weighted down by their hubness, the classic "who should be
    * connected next" read.
    *
    * Plan: wedges enumerate at their CENTER w (one keyed self-join of the
    * neighbor relation on w, legs ordered u < v), each wedge carries the
    * center's 1/ln(deg) weight, and the pair aggregate is one keyed
    * groupBy; already-adjacent pairs leave via a keyed left-anti join.
    * Wedge volume is Σ_w deg(w)² — a dense hub alone emits deg² rows — so
    * centers above `maxHubDegree` leave the wedge relation first (the
    * [[graft.ops.Dedup.adaptiveMaxDf]] rationale on graphs: a ubiquitous
    * neighbor contributes ≤ 1/ln(cap) per pair while costing cap² rows;
    * AA's own 1/ln weighting says those centers carry the least signal).
    * Determinism: per-wedge weights are one IEEE chain quantized to
    * DECIMAL(30,10) at the row, so the pair SUM is shuffle-order-exact and
    * `aa_dec` orders ties away; `aa_score` is the rounded edge.
    *
    * Output: `(u, v, n_common, aa_score, aa_dec)` — callers order by the
    * exact `aa_dec` and drop it at projection.
    */
  def adamicAdar(edges: DataFrame, maxHubDegree: Int = 64): DataFrame = {
    require(maxHubDegree >= 2, s"maxHubDegree: $maxHubDegree")
    val canon = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") < col("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sym = canon.select(col("a").as("u"), col("b").as("v"))
      .unionByName(canon.select(col("b").as("u"), col("a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val centered = sym.select(col("v").as("w"), col("u").as("n"))
      .join(deg.select(col("u").as("w"), col("deg").as("dw")), Seq("w"))
      .where(col("dw") <= maxHubDegree)
    val wedges = centered.as("p").join(centered.as("q"),
        col("p.w") === col("q.w") && col("p.n") < col("q.n"))
      .select(col("p.n").as("u"), col("q.n").as("v"),
        (lit(1.0) / log(col("p.dw").cast("double")))
          .cast("decimal(30,10)").as("aa_w"))
    wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"), sum(col("aa_w")).as("aa_dec"))
      .join(canon.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"), col("n_common"),
        round(col("aa_dec").cast("double"), 6).as("aa_score"),
        col("aa_dec"))
  }

  /** HITS hubs & authorities (Kleinberg) by fixed-iteration mutual
    * reinforcement over a DIRECTED edge relation (`src`, `dst`): each
    * iteration sets authority(v) = Σ_{u→v} hub(u) then hub(u) =
    * Σ_{u→v} authority(v), each L1-normalized. The scale shape is the
    * [[pageRank]] one — per iteration two keyed join+aggregate pairs on
    * the edge relation (hash exchanges on node keys, nothing quadratic)
    * plus a single-row normalization-total crossJoin.
    *
    * Determinism: scores live in DECIMAL(12,6) between steps — the
    * propagation SUM over decimals is shuffle-order-exact — and each
    * normalization is ONE double divide rounded to 6, so both engines
    * walk the identical score vector (the [[graft.queries.AnalyticQueries]]
    * q_markov_stationary discipline). `iters` is fixed so the oracle
    * unrolls as CTEs with identical literals.
    *
    * Output: `(node, hub, authority)` — hub NULL for nodes with no
    * out-edges, authority NULL for nodes with no in-edges (a production
    * run coalesces to 0; keeping the NULLs lets callers tell "never a
    * hub" from "scored 0").
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters: $iters")
    val dec6 = "decimal(12,6)"
    val e = edges.select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var hub = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1.0).cast(dec6).as("h"))
    var auth: DataFrame = null
    // Each raw-score relation (ar, hr) is read TWICE per iteration — the
    // 1-row normalization-total aggregate AND the crossJoin main branch —
    // the [[sssp]] 2^rounds re-derivation shape. The remedy is
    // ITERS-DEPENDENT, measured at sf0.1:
    //   - iters ≤ 2: stay LAZY and ACCEPT the bounded 2²-shape
    //     re-derivation. Do NOT count on exchange reuse here: AQE's
    //     per-branch replanning defeats canonicalization in this nested
    //     broadcast/shuffle shape (measured: ZERO ReusedExchange in the
    //     executed iters=2 plan, full ~90-stage expansion) — yet the
    //     lazy form still ran 0.9–1.4 s vs the persisted form's
    //     2.3–2.5 s: re-deriving cheap keyed aggregates 4× costs less
    //     than four node-scale materialization barriers. GraphSpec's
    //     stage-count audit pins the expansion envelope so a deepened
    //     lineage fails the suite, not a 100 TB run.
    //   - iters ≥ 3: persist per half-step (the [[sssp]] discipline) —
    //     2^iters recompute overtakes the materialization cost
    //     immediately. Caches are caller-released (Verify/Bench clear
    //     per query).
    val persistRounds = iters > 2
    // ADVICE r15: the iters>2 branch used to pin 2×iters node-scale
    // relations until the caller's clearCache. Mirror the pageRank
    // supersedable-unpersist cadence: every 2 rounds, cut the chain with
    // an eager localCheckpoint of the round-boundary hub (materializing —
    // and thereby filling — every pin behind it) and release the
    // superseded per-half-step pins, so live cache stays O(1) in iters.
    var supersedable: List[DataFrame] = Nil
    def pin(df: DataFrame): DataFrame =
      if (persistRounds) {
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        supersedable ::= p
        p
      } else df
    for (i <- 1 to iters) {
      val ar = pin(e.join(hub.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("raw")))
      val at = ar.agg(sum(col("raw")).as("tot"))
      auth = ar.crossJoin(broadcast(at)) // 1-row normalization total
        .select(col("dst").as("node"),
          round(col("raw").cast("double") / col("tot").cast("double"), 6)
            .cast(dec6).as("a"))
      val hr = pin(e.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("raw")))
      val ht = hr.agg(sum(col("raw")).as("tot"))
      hub = hr.crossJoin(broadcast(ht)) // 1-row normalization total
        .select(col("src").as("node"),
          round(col("raw").cast("double") / col("tot").cast("double"), 6)
            .cast(dec6).as("h"))
      // the final round's ar/hr stay pinned: `auth`/`hub` read them at
      // the caller's action (caches caller-released per query)
      if (persistRounds && i % 2 == 0 && i < iters) {
        hub = hub.localCheckpoint()
        supersedable.foreach(_.unpersist())
        supersedable = Nil
      }
    }
    hub.join(auth, Seq("node"), "full_outer")
      .select(col("node"), col("h").cast("double").as("hub"),
        col("a").cast("double").as("authority"))
  }

  /** Single-source shortest paths by fixed-round Bellman–Ford relaxation
    * over a weighted edge relation (`src`, `dst`, `w` — DECIMAL weights;
    * symmetrize before calling for undirected semantics). Each round is
    * one keyed join propagating `d + w` along edges plus one keyed
    * min-aggregate folding candidates into the frontier — the
    * [[pageRank]]/[[kCore]] iteration shape, nothing quadratic; `rounds`
    * bounds path length in hops (a production run loops to an
    * unchanged-count fixpoint, same per-round plan).
    *
    * Determinism: distances are exact DECIMAL(20,6) sums of quantized
    * weights — min over exact decimals has no FP ties — so both engines
    * agree on every distance. Unreached nodes carry NULL.
    */
  def sssp(edges: DataFrame, seed: Long, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds: $rounds")
    val dec = "decimal(20,6)"
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Edge relation hash-partitioned on src ONCE before the loop (the
    // [[pageRank]] repartition-by-dst discipline): every round's
    // relaxation join is keyed on src, and the cached partitioning
    // serves all of them — the edge-scale exchange happens once, not
    // once per round (before: each round re-shuffled the cached edge
    // relation; 4 rounds = 4 edge-scale shuffles).
    val e = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src"))
      .persist(lvl)
    val spark = edges.sparkSession
    import spark.implicits._
    // REACHED-ONLY state + FRONTIER-ONLY propagation. The distance
    // relation used to carry every node with NULL for the unreached
    // majority, and every round re-relaxed ALL reached nodes. Both
    // shrink without changing one output row:
    //   - reached-only: NULL rows never affect a min-fold; unreached
    //     nodes rejoin as NULL once, at the end.
    //   - frontier-only: a node whose distance did NOT improve in round
    //     k−1 contributed exactly the same candidates in some earlier
    //     round, already folded into the min — by induction the k-round
    //     distances are identical to full re-relaxation (still exactly
    //     "shortest distance using ≤ rounds edges").
    // Per-round shuffle volume drops from |V|+|cand| to
    // |reached|+|frontier·deg|; distances stay exact DECIMAL so the
    // frontier test (d < d_prev) has no FP ambiguity.
    var reached = Seq(seed).toDF("node")
      .select(col("node"), lit(0).cast(dec).as("d"))
    var frontier = reached
    for (_ <- 1 to rounds) {
      val cand = e
        .join(frontier.select(col("node").as("src"), col("d").as("du")),
          Seq("src"))
        .select(col("dst").as("node"),
          (col("du") + col("w")).cast(dec).as("d"))
      // reached⁽ᵏ⁾ is read twice (next union + frontier diff) and feeds
      // the next round: cut the lineage with an eager localCheckpoint
      // (the [[bfsDistances]] rationale — a per-round persist leaves a
      // rounds-deep nest of cached plans that every later action
      // re-analyzes, re-canonicalizes, and re-renders, all driver-side)
      val next = reached.unionByName(cand)
        .groupBy(col("node")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
      frontier = next
        .join(reached.select(col("node"), col("d").as("d_prev")),
          Seq("node"), "left")
        .where(col("d_prev").isNull || col("d") < col("d_prev"))
        .select(col("node"), col("d"))
      reached = next
    }
    // restore the all-nodes contract: unreached nodes carry NULL
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    nodes.join(reached, Seq("node"), "left")
  }
}
