package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact
import graft.ops.{AsofJoin, Similarity}
import OracleSql._

/** Round-3 additions to the relational surface: range join, as-of join,
  * approximate aggregates (HLL distinct, approx percentile) gated by a
  * tolerance predicate, exact percentiles/median, and the IVF ANN path.
  *
  * Approx-aggregate gating: a sketch value can't hash-match a different
  * engine's sketch, so the query emits the EXACT value plus a boolean
  * `approx_ok` (|approx − exact| within tolerance) and the oracle emits the
  * exact value plus literal TRUE — the hash compare then verifies both the
  * exact arithmetic and that the sketch landed inside its error bound
  * (approx_count_distinct's default rsd is 5%; the gate allows 2σ = 10%).
  */
object AdvancedQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  val queries: Seq[Query] = Seq(
    // ── Range join: equi key + band predicate ────────────────────────────
    // Customers and suppliers in the same nation with account balances
    // within ±10. The equi key (nationkey) carries the shuffle; the range
    // predicate is a post-join filter — never a cartesian product.
    Query("q_join_range", ((s, dir) => {
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      c.join(sup,
          col("c_nationkey") === col("s_nationkey") &&
            abs(col("c_acctbal") - col("s_acctbal")) < 10.0)
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_pairs"),
          Exact.roundAvg(abs(col("c_acctbal") - col("s_acctbal"))).as("avg_gap"))
        .orderBy("nationkey")
    }),
      """SELECT c_nationkey AS nationkey, count(*) AS n_pairs,
            ROUND(CAST(SUM(CAST(abs(c_acctbal - s_acctbal) AS DECIMAL(28,10))) AS DOUBLE)
                  / COUNT(abs(c_acctbal - s_acctbal)), 6) AS avg_gap
         FROM customer JOIN supplier
           ON c_nationkey = s_nationkey AND abs(c_acctbal - s_acctbal) < 10.0
         GROUP BY 1 ORDER BY nationkey"""),

    // ── As-of join: every view event carries the user's most recent click ─
    // Union+window form (one shuffle on user_id) — see AsofJoin scaladoc.
    // Time axis: microseconds since epoch as BIGINT on both engines
    // (Tables.events normalizes either fixture generation to µs; session
    // TZ is UTC so the NTZ→instant cast is identity).
    Query("q_join_asof", ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us").as("click_us"))
        .agg(max(col("value")).as("click_value")) // unique (key, time) contract
      AsofJoin.asofJoin(views, clicks, "user_id", "ts_us", "click_us",
          Seq("click_value"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("asof_click_value"), lit(-1.0)).as("last_click_value"))
        .orderBy("event_id")
    }),
      """WITH v AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
                    FROM events WHERE event_type = 'view'),
              c AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS click_us,
                           max(value) AS click_value
                    FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT v.event_id, v.user_id, v.ts_us,
                COALESCE(c.click_value, -1.0) AS last_click_value
         FROM v ASOF LEFT JOIN c
           ON v.user_id = c.user_id AND v.ts_us >= c.click_us
         ORDER BY v.event_id"""),

    // ── As-of join with max-staleness tolerance ──────────────────────────
    // q_join_asof's purchase-side twin under the feature-store contract:
    // each purchase takes the user's most recent click ONLY if it is at
    // most 30 minutes old — older matches are rejected (matched=false,
    // value −1 sentinel), because a stale feature is no feature. Same
    // one-shuffle union-and-scan plan as q_join_asof; the tolerance is a
    // post-window per-row predicate in exact epoch-micros, never a second
    // join (AsofJoin.asofJoinTolerance).
    Query("q_join_asof_tol", ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us").as("click_us"))
        .agg(max(col("value")).as("click_value"))
      AsofJoin.asofJoinTolerance(purchases, clicks, "user_id", "ts_us",
          "click_us", Seq("click_value"), toleranceUs = 1800L * 1000000L)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_matched").as("matched"),
          col("asof_lag_us").as("lag_us"),
          coalesce(col("asof_click_value"), lit(-1.0)).as("click_value"))
        .orderBy("event_id")
    }),
      """WITH p AS (SELECT event_id, user_id,
                      CAST(epoch_us(ts) AS BIGINT) AS ts_us
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS click_us,
                      max(value) AS click_value
                    FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id, p.ts_us,
           c.click_us IS NOT NULL
             AND p.ts_us - c.click_us <= 1800000000 AS matched,
           CASE WHEN c.click_us IS NOT NULL
                  AND p.ts_us - c.click_us <= 1800000000
                THEN p.ts_us - c.click_us ELSE -1 END AS lag_us,
           CASE WHEN c.click_us IS NOT NULL
                  AND p.ts_us - c.click_us <= 1800000000
                THEN c.click_value ELSE -1.0 END AS click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts_us >= c.click_us
         ORDER BY p.event_id"""),

    // ── 2-D skyline (Pareto frontier) ────────────────────────────────────
    // Orders not STRICTLY dominated on (totalprice, orderdate): no other
    // order has both a higher price and a later date. The classic
    // SKYLINE operator via the sort-scan identity — per distinct price
    // level take the max date, run the shifted running-max over levels
    // in price-desc order (1-row-lag frame), and an order survives iff
    // its date beats every strictly-higher level's best date. One
    // aggregate + one window over the LEVEL relation (≤ distinct prices)
    // + one keyed join back — never the O(n²) dominance self-join. The
    // constant-key window partition rides pmod per house rule.
    Query("q_skyline", ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"))
      val levels = o.groupBy(col("o_totalprice"))
        .agg(max(col("o_orderdate")).as("lvl_max_d"))
      val wPrev = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(col("o_totalprice").cast("long"), lit(1L)))
        .orderBy(desc("o_totalprice"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val withPrev = levels.select(col("o_totalprice"),
        max(col("lvl_max_d")).over(wPrev).as("best_above"))
      o.join(withPrev, Seq("o_totalprice"))
        .where(col("best_above").isNull ||
          col("o_orderdate") > col("best_above"))
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
    }),
      """WITH o AS (
           SELECT o_orderkey, o_totalprice, o_orderdate FROM orders),
         lv AS (
           SELECT o_totalprice, max(o_orderdate) AS lvl_max_d
           FROM o GROUP BY 1),
         wp AS (
           SELECT o_totalprice,
             max(lvl_max_d) OVER (ORDER BY o_totalprice DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_above
           FROM lv)
         SELECT o.o_orderkey, o.o_totalprice,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate
         FROM o JOIN wp USING (o_totalprice)
         WHERE best_above IS NULL OR o.o_orderdate > best_above
         ORDER BY o_totalprice DESC, o_orderkey"""),

    // ── Approximate aggregates, tolerance-gated ──────────────────────────
    // Dedup-FIRST two-level aggregate (optimization guide §2.4 "aggregate
    // twice" / §2 shuffle fewer bytes): the naive single groupBy plans the
    // distinct via a keyed partial agg whose rows CARRY the HLL++ partial
    // buffer per (returnflag, partkey) group — QueryProfile r19 measured
    // that exchange at 10.9 MB (2.5× the deduped input) and 10 s of task
    // time merging ~200k sketches. Deduplicating (flag, partkey) first and
    // then aggregating per flag shuffles only the bare distinct pairs and
    // builds ONE sketch per flag per task. Output is bit-identical: HLL++
    // registers are a max over inserted hashes, so duplicate insertions
    // and any grouping of the merge tree produce the same final registers
    // (estimate included), and count(*) over the deduped pairs IS
    // count(DISTINCT partkey). isNotNull pins count_distinct's
    // null-skipping semantics independently of fixture guarantees.
    Query("q_agg_approx", ((s, dir) => {
      val dk = t(s, dir, "lineitem")
        .where(col("l_partkey").isNotNull)
        .select(col("l_returnflag"), col("l_partkey"))
        .distinct()
      dk.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("nd_part"),
          (abs(approx_count_distinct(col("l_partkey")) - count(lit(1))) <=
            count(lit(1)) * 0.10).as("approx_ok"))
        .orderBy("l_returnflag")
    }),
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_part,
            TRUE AS approx_ok
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),

    // ── Approx-percentile accuracy sweep (sketch-design table) ──────────
    // The q_agg_approx tolerance-gate pattern applied as a DESIGN SWEEP:
    // p99 from approx_percentile at accuracy 100 / 1000 / 10000 against
    // the exact percentile, each gated by the value tolerance its rank
    // error buys (5 % / 1 % / 0.2 % of exact — validated at sf0.01 AND
    // sf0.1). The oracle emits the exact value plus literal TRUE (a
    // sketch can't hash-match cross-engine; the boolean is what's
    // gated). One aggregate; stack() to the 3-row table.
    Query("q_quantile_sweep", ((s, dir) => {
      // Exact leg: the percentile() BUILTIN keeps a value→count map as
      // aggregation state — over l_extendedprice (distinct values grow
      // with the data) that map is corpus-scale, and its single-task
      // final merge was this query's measured bottleneck (QueryProfile
      // sf0.1: 1 task, 1.05 s of a 2.09 s wall merging 8.2 MB of map
      // state, plus 3.2 s GC in the partials — the VERDICT r15 #3 cliff).
      // Replaced by the distributed rank kernel (Ranks.globalRank — the
      // q_global_quantiles discipline): only the floor/ceil order
      // statistics at position (n−1)·0.99 leave their range slices, and
      // the closing projection replicates Percentile's interpolation
      // BIT-FOR-BIT — position = (n−1)·p in doubles, result =
      // (ceil(pos)−pos)·x_lo + (pos−floor(pos))·x_hi, integral pos short-
      // circuited to x_lo exactly as Percentile.getPercentile does — so
      // the emitted value is IEEE-identical to the builtin the oracle
      // mirrors. Tie column (l_orderkey·8+l_linenumber) is total; equal
      // prices interpolate identically whichever tie wins.
      val li = t(s, dir, "lineitem")
      val approx = li.select(col("l_extendedprice").as("x"))
        .agg(
          expr("approx_percentile(x, 0.99, 100)").as("a100"),
          expr("approx_percentile(x, 0.99, 1000)").as("a1000"),
          expr("approx_percentile(x, 0.99, 10000)").as("a10000"))
      val pos = (col("n") - 1).cast("double") * lit(0.99)
      // isNotNull pins the percentile() builtin's null-skipping semantics
      // independently of fixture guarantees (ADVICE r18): globalRank would
      // otherwise rank NULL sort keys into r and n
      val exact = graft.ops.Ranks.globalRank(
          li.where(col("l_extendedprice").isNotNull),
          col("l_extendedprice"),
          col("l_orderkey") * 8 + col("l_linenumber"))
        .select(col("x"), col("r"), pos.as("p"),
          (floor(pos).cast("long") + 1L).as("rl"),
          (ceil(pos).cast("long") + 1L).as("rh"))
        .where(col("r") === col("rl") || col("r") === col("rh"))
        .agg(
          max(when(col("r") === col("rl"), col("x"))).as("xl"),
          max(when(col("r") === col("rh"), col("x"))).as("xh"),
          max(col("p")).as("p"))
        .select(
          when(floor(col("p")) === ceil(col("p")), col("xl"))
            .otherwise((ceil(col("p")) - col("p")) * col("xl")
              + (col("p") - floor(col("p"))) * col("xh")).as("e"))
      approx.crossJoin(broadcast(exact))
        .select(
          expr("""stack(3, 100, a100, 1000, a1000, 10000, a10000)
            AS (accuracy, approx)"""), col("e"))
        .select(col("accuracy"), round(col("e"), 6).as("exact_p99"),
          when(col("accuracy") === 100,
            abs(col("approx") - col("e")) <= col("e") * 0.05)
            .when(col("accuracy") === 1000,
              abs(col("approx") - col("e")) <= col("e") * 0.01)
            .otherwise(abs(col("approx") - col("e")) <= col("e") * 0.002)
            .as("approx_ok"))
        .orderBy("accuracy")
    }),
      """WITH e AS (
           SELECT ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p
           FROM lineitem)
         SELECT 100 AS accuracy, p AS exact_p99, TRUE AS approx_ok FROM e
         UNION ALL SELECT 1000, p, TRUE FROM e
         UNION ALL SELECT 10000, p, TRUE FROM e
         ORDER BY accuracy"""),

    // ── Mergeable HLL sketches (Datasketches) ───────────────────────────
    // The incremental-corpus pattern: per-partition (here per-language)
    // sketches merge via hll_union_agg WITHOUT rescanning the data — at
    // 100 TB the sketches are what you store per shard/day and fold. Gate:
    // the merged estimate must land within 5% of the exact global distinct
    // (default lgConfigK=12 ⇒ rsd ≈1.6%), emitted tolerance-style.
    Query("q_hll_merge", ((s, dir) => {
      // persisted: the sketch branch and the exact-count branch would
      // otherwise each re-scan and re-tokenize documents
      val words = t(s, dir, "documents")
        .select(col("lang"),
          explode(graft.tok.Tokenizer.lowerTokens(col("text"))).as("word"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val perLang = words.groupBy(col("lang"))
        .agg(expr("hll_sketch_agg(word)").as("sk"))
      val merged = perLang
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      val exact = words.agg(count_distinct(col("word")).as("nd_words"))
      merged.crossJoin(exact)
        .select(col("nd_words"),
          (abs(col("est") - col("nd_words")) <= col("nd_words") * 0.05)
            .as("approx_ok"))
    }),
      s"""SELECT count(DISTINCT word) AS nd_words, TRUE AS approx_ok
          FROM (SELECT unnest(string_split_regex(lower(text), '$Re')) AS word
                FROM documents)
          WHERE word <> ''"""),

    // ── Exact percentiles / median (+ approx gated) ──────────────────────
    // The exact percentile/median BUILTINS keep a value→count map per
    // group as aggregation state. That is fine exactly when the value
    // domain is bounded — l_quantity is 1..50, so its map is ≤50 entries
    // regardless of data scale — and a 100× memory cliff when distinct
    // values grow with the data: med_price over l_extendedprice with only
    // 3 groups to spread state across (VERDICT r15 #3; probed cold at
    // 10×). So the price median rides the
    // Ranks.groupedRank kernel instead: per-group exact ranks with
    // range-partitioned local sorts, interpolated at ranks
    // (n+1) div 2 and (n+2) div 2 — identical semantics to
    // median()/quantile_cont (odd n: the middle row, even n: the mean of
    // the two middle rows), with nothing group-scale in any one task.
    Query("q_percentiles", ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val qty = li.groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
          (abs(expr("approx_percentile(l_quantity, 0.5, 10000)") -
            expr("percentile(l_quantity, 0.5)")) <= 2.0).as("p50_approx_ok"))
      val med = graft.ops.Ranks.groupedRank(li, col("l_returnflag"),
          col("l_extendedprice"), col("l_orderkey") * 8 + col("l_linenumber"))
        .where(col("r") === expr("(n+1) div 2") ||
          col("r") === expr("(n+2) div 2"))
        .groupBy(col("g").as("l_returnflag"))
        .agg(round(avg(col("x")), 6).as("med_price"))
      qty.join(med, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("p50_qty"), col("p90_qty"),
          col("med_price"), col("p50_approx_ok"))
        .orderBy("l_returnflag")
    }),
      """SELECT l_returnflag,
            ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
            ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
            ROUND(median(l_extendedprice), 6) AS med_price,
            TRUE AS p50_approx_ok
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""),

    // ── Exact GLOBAL deciles on the distributed rank kernel ─────────────
    // q_percentiles is per-group (bounded groups own their sorts); the
    // GLOBAL exact quantile is the one that degenerates into a single
    // all-data sort task unless ranked distributively — this is
    // Ranks.globalRank (range-partition + local rank + per-range offset
    // collect) selecting the type-1 (lower inverse-CDF) decile values at
    // ranks ⌈q·n⌉, q ∈ {0.1..0.9}. The target relation is 9 rows joined
    // keyed on rank; nothing data-scale leaves the executors. Tie order
    // (price, orderkey·8+linenumber) is total, so both engines pick the
    // identical row even among equal prices.
    Query("q_global_quantiles", ((s, dir) => {
      val ranks = graft.ops.Ranks.globalRank(
          t(s, dir, "lineitem"),
          col("l_extendedprice"),
          col("l_orderkey") * 8 + col("l_linenumber"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val targets = ranks.agg(max(col("n")).as("n"))
        .select(col("n"),
          explode(array((1 to 9).map(i => lit(i / 10.0)): _*)).as("q"))
        .select(col("q"), ceil(col("q") * col("n")).cast("long").as("r"))
      ranks.join(broadcast(targets), Seq("r")) // 9-row target relation
        .select(col("q"), col("r").as("rank"), col("x").as("value"))
        .orderBy("q")
    }),
      """WITH r AS (SELECT l_extendedprice AS x,
            row_number() OVER (ORDER BY l_extendedprice,
              l_orderkey*8 + l_linenumber) AS r,
            count(*) OVER () AS n
          FROM lineitem),
         tg AS (SELECT CAST(q AS DOUBLE) AS q,
            CAST(ceil(CAST(q AS DOUBLE) * (SELECT max(n) FROM r))
              AS BIGINT) AS rank
          FROM (SELECT unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q))
         SELECT tg.q, tg.rank, r.x AS value
         FROM tg JOIN r ON r.r = tg.rank ORDER BY tg.q"""),

    // ── Encoding-quality scan (mojibake / control characters) ───────────
    // The ingest health check a crawl pipeline runs before tokenization:
    // per source, docs carrying U+FFFD replacement characters (the
    // mojibake fingerprint of a mis-decoded byte stream) and C0 control
    // characters (NUL..BS, VT, FF, SO..US — tab/newline/CR excluded),
    // with the total stray-control count. The fixture is clean, so — the
    // q_dedup_exact discipline — each doc_id ≡ 0 mod 7 contributes a
    // corrupted twin (id+200000) with injected BEL+U+FFFD+BEL, which the
    // scan must flag exactly. Counts via length-difference under
    // character-class regexp_replace: one narrow scan, one keyed
    // aggregate.
    Query("q_encoding_quality", ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("text"))
      val twins = base.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("source"),
          concat(col("text"), lit("\u0007\uFFFD\u0007")).as("text"))
      base.unionByName(twins)
        .select(col("source"),
          (length(col("text")) - length(regexp_replace(col("text"),
            "\uFFFD", ""))).as("n_repl"),
          (length(col("text")) - length(regexp_replace(col("text"),
            "[\u0000-\u0008\u000B\u000C\u000E-\u001F]", ""))).as("n_ctrl"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_repl") > 0, 1L).otherwise(0L)).as("n_mojibake"),
          sum(when(col("n_ctrl") > 0, 1L).otherwise(0L)).as("n_ctrl_docs"),
          sum(col("n_ctrl")).as("ctrl_chars"))
        .select(col("source"), col("n_docs"), col("n_mojibake"),
          col("n_ctrl_docs"), col("ctrl_chars"),
          round(col("n_mojibake").cast("double") / col("n_docs"), 6)
            .as("mojibake_share"))
        .orderBy("source")
    }),
      """WITH all_docs AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL
           SELECT doc_id + 200000, source,
             text || chr(7) || chr(65533) || chr(7)
           FROM documents WHERE doc_id % 7 = 0),
         m AS (SELECT source,
            length(text) - length(regexp_replace(text, chr(65533), '', 'g'))
              AS n_repl,
            length(text) - length(regexp_replace(text,
              '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_ctrl
          FROM all_docs)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_repl > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mojibake,
           CAST(SUM(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ctrl_docs,
           CAST(SUM(n_ctrl) AS BIGINT) AS ctrl_chars,
           ROUND(CAST(SUM(CASE WHEN n_repl > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS mojibake_share
         FROM m GROUP BY source ORDER BY source"""),

    // ── Correlated scalar subquery (Catalyst decorrelates to a join) ─────
    // Orders priced above 1.5× their priority class's mean. The threshold
    // goes through the decimal-exact route in BOTH engines so the boundary
    // compare can't flip on a ulp.
    Query("q_subquery", ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_sq")
      s.sql(
        """SELECT o_orderkey, o_orderpriority, o_totalprice
           FROM orders_sq o
           WHERE o_totalprice > (
             SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
                    / COUNT(*) * 1.5
             FROM orders_sq i
             WHERE i.o_orderpriority = o.o_orderpriority)
           ORDER BY o_orderkey""")
    }),
      """SELECT o_orderkey, o_orderpriority, o_totalprice
         FROM orders o
         WHERE o_totalprice > (
           SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
                  / COUNT(*) * 1.5
           FROM orders i
           WHERE i.o_orderpriority = o.o_orderpriority)
         ORDER BY o_orderkey"""),

    // ── RANGE window frame (value-based, tie-inclusive) ─────────────────
    Query("q_window_range", ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
        .rangeBetween(-10000L, 0L)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          count(lit(1)).over(w).as("n_within_10k"))
        .orderBy("o_orderkey")
    }),
      """SELECT o_orderkey, o_custkey,
            count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                           RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
              AS n_within_10k
         FROM orders ORDER BY o_orderkey"""),

    // ── min_by / max_by (argmin/argmax aggregates) ──────────────────────
    // (fixture has no (custkey, totalprice) ties — checked — so the pick
    // is deterministic without a composite tiebreak)
    Query("q_agg_argminmax", ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          max_by(col("o_orderkey"), col("o_totalprice")).as("priciest_order"),
          min_by(col("o_orderkey"), col("o_totalprice")).as("cheapest_order"),
          Exact.roundSum(col("o_totalprice")).as("total"))
        .orderBy("o_custkey")),
      s"""SELECT o_custkey,
            arg_max(o_orderkey, o_totalprice) AS priciest_order,
            arg_min(o_orderkey, o_totalprice) AS cheapest_order,
            ${oSum("o_totalprice", "total")}
          FROM orders GROUP BY 1 ORDER BY o_custkey"""),

    // ── Map functions (map type lives inside the query; outputs are
    //    scalars so the oracle can compute them relationally) ────────────
    Query("q_map_fns", ((s, dir) => {
      val toks = graft.tok.Tokenizer.lowerTokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), toks.as("toks"))
        .select(col("doc_id"),
          // token -> length map over the first 5 distinct tokens
          map_from_arrays(
            slice(array_distinct(col("toks")), 1, 5),
            transform(slice(array_distinct(col("toks")), 1, 5), t => length(t)))
            .as("m"),
          col("toks"))
        .select(col("doc_id"),
          size(map_keys(col("m"))).as("m_size"),
          // guarded: ANSI mode (Spark 4 default) makes element_at on an
          // empty array a runtime error; a zero-token doc must yield NULL
          // like the oracle's first5[1]
          when(size(map_keys(col("m"))) === 0, lit(null).cast("int"))
            .otherwise(
              element_at(col("m"), element_at(array_distinct(col("toks")), 1)))
            .as("first_tok_len"),
          aggregate(map_values(col("m")), lit(0), (a, v) => a + v)
            .as("sum_lens"))
        .orderBy("doc_id")
    }),
      s"""WITH tk AS (SELECT doc_id,
              list_filter(string_split_regex(lower(text), '$Re'),
                          x -> x <> '') AS toks
            FROM documents),
          -- first-occurrence-order distinct (DuckDB list_distinct does NOT
          -- preserve order; Spark array_distinct does)
          t AS (SELECT doc_id,
              list_filter(toks, (x, i) -> NOT list_contains(toks[1:i-1], x)) AS dt
            FROM tk),
          f AS (SELECT doc_id, dt[1:5] AS first5 FROM t)
          SELECT doc_id,
            CAST(len(first5) AS INT) AS m_size,
            CAST(length(first5[1]) AS INT) AS first_tok_len,
            CAST(list_sum(list_transform(first5, x -> length(x))) AS INT)
              AS sum_lens
          FROM f ORDER BY doc_id"""),

    // ── Pivot (conditional aggregation; oracle uses FILTER clauses) ─────
    Query("q_pivot", ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority")),
      """SELECT o_orderpriority,
            count(*) FILTER (o_orderstatus = 'F') AS "F",
            count(*) FILTER (o_orderstatus = 'O') AS "O",
            count(*) FILTER (o_orderstatus = 'P') AS "P"
         FROM orders GROUP BY 1 ORDER BY o_orderpriority"""),

    // ── IVF ANN, recall-gated (VERDICT r03 #3) ──────────────────────────
    // An ANN sketch can't hash-match a different engine's reimplementation,
    // so — like the approx-aggregate gates above — the query emits values
    // the oracle CAN reproduce exactly (each probe's brute-force top-1 via
    // the decimal-exact cosine) plus a boolean recall bound on the part
    // only the engine computes: |IVF top-k ∩ brute top-k| ≥ 2 of k=5.
    // The IVF pipeline is deterministic end-to-end (lowest-id seeds,
    // decimal-exact means, index tie-breaks), so the recall per fixture is
    // a fixed number, not a flaky sample: measured per-probe hits of
    // 3–5 out of 5 across sf0.001/0.01/0.1 (nCentroids=16, nProbe=4).
    // The bound 2 sits under the measured minimum of 3 while still failing
    // on real regressions (empty candidate sets, wrong cell routing,
    // broken rank ordering).
    Query("q_knn_ivf", ((s, dir) => {
      // persisted: the IVF path reads the corpus from SIX separate jobs
      // (seed collect, dim probe, Lloyd aggregate, assignment, search,
      // brute baseline) — and the plan carries no runtime objects, so the
      // cache also survives across bench invocations
      val emb = t(s, dir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val probes = emb.where(col("vec_id") < 5)
      val brute = Similarity.topKNeighbors(probes, emb, k = 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ivf = Similarity.topKNeighborsIvf(probes, emb, k = 5, kmeansIters = 1)
        .select(col("probe_id"), col("cand_id"))
      val hits = brute.join(ivf, Seq("probe_id", "cand_id"), "left_semi")
        .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
      brute.where(col("rank") === 1)
        .select(col("probe_id"), col("cand_id").as("brute_top1_id"),
          col("cosine").as("brute_top1_cosine"))
        .join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"), col("brute_top1_id"), col("brute_top1_cosine"),
          (coalesce(col("n_hits"), lit(0L)) >= 2).as("recall_ok"))
        .orderBy("probe_id")
    }),
      // IVF recall gate: the oracle reproduces each probe's brute-force top-1
      // (decimal-exact cosine, same machinery as q_knn_brute) and asserts the
      // engine-side recall boolean — the approx-aggregate gating pattern.
      s"""WITH pairs AS (
            SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
              ${SimilarityQueries.cosineSql("p.embedding", "c.embedding")} AS cosine
            FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
            WHERE p.vec_id < 5),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY cosine DESC, cand_id ASC) AS rank
            FROM pairs)
          SELECT probe_id, cand_id AS brute_top1_id,
            cosine AS brute_top1_cosine, TRUE AS recall_ok
          FROM ranked WHERE rank = 1 ORDER BY probe_id"""),

    // ── PageRank (3 iterations) over the supplier↔customer graph ────────
    // Edges: distinct (supplier, customer) trade pairs from
    // lineitem⋈orders, symmetrized (customer nodes offset by 10^12 so the
    // key spaces stay disjoint at every sf — suppliers are sf·10⁴, far
    // below it). Fixed-iteration decimal-exact
    // PageRank (Graph.pageRank); the oracle unrolls the three iterations
    // as CTEs with identical literals and rounding.
    Query("q_pagerank", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      // persisted: the symmetrize union reads fwd from BOTH branches, so
      // the lazy form re-runs the fact⋈orders join + distinct per branch;
      // the persist materializes it once and Graph.pageRank's own edge
      // persist then builds from cache (same caller-managed contract as
      // verifiedNearDupsFromHashes).
      val fwd = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000000000L).as("dst"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.Graph.pageRank(edges, iters = 3)
        .orderBy(desc("rank"), col("node")).limit(50)
    }), {
      def c(i: Int, prev: String) =
        s"""c$i AS (
              SELECT e.dst AS node,
                CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(28,12))) AS DOUBLE)
                  AS in_sum
              FROM edges e
              JOIN $prev r ON e.src = r.node
              JOIN deg d ON e.src = d.src
              GROUP BY e.dst)"""
      def r(i: Int) =
        s"""r$i AS (
              SELECT nodes.node,
                (1 - CAST(0.85 AS DOUBLE)) / n
                  + CAST(0.85 AS DOUBLE)
                    * COALESCE(c$i.in_sum, CAST(0 AS DOUBLE)) AS rank
              FROM nodes CROSS JOIN nn
              LEFT JOIN c$i ON nodes.node = c$i.node)"""
      s"""WITH fwd AS (
            SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000000000 AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          edges AS (
            SELECT src, dst FROM fwd
            UNION ALL
            SELECT dst AS src, src AS dst FROM fwd),
          nodes AS (SELECT DISTINCT src AS node FROM edges),
          nn AS (SELECT count(*) AS n FROM nodes),
          deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
          r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank
                 FROM nodes CROSS JOIN nn),
          ${c(1, "r0")}, ${r(1)},
          ${c(2, "r1")}, ${r(2)},
          ${c(3, "r2")}, ${r(3)}
          SELECT node, ROUND(rank, 6) AS rank FROM r3
          ORDER BY ROUND(rank, 6) DESC, node LIMIT 50"""
    }),

    // ── Degree distribution of the trade graph ──────────────────────────
    // Per degree, node count — the skew read before q_pagerank commits to
    // per-iteration joins (Graph.degreeHistogram over the SAME symmetric
    // edge relation, so the histogram describes exactly that job's input).
    Query("q_graph_degree", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      // persisted — the q_pagerank symmetrize note applies verbatim
      val fwd = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000000000L).as("dst"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.Graph.degreeHistogram(edges).orderBy("degree")
    }),
      // three unrolled iterations with the engine's exact literals/rounding;
      // all decimal-literal constants are CAST to DOUBLE (DuckDB parses
      // bare 0.85 as DECIMAL, which would change the arithmetic)
      // Same fwd/edges CTE as q_pagerank — the histogram describes exactly
      // that job's input relation.
      s"""WITH fwd AS (
            SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000000000 AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          edges AS (
            SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
          deg AS (
            SELECT src, CAST(count(*) AS BIGINT) AS degree
            FROM edges GROUP BY src)
          SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
          FROM deg GROUP BY degree ORDER BY degree"""),

    // ── PageRank with dangling-mass redistribution (ranks sum to 1) ─────
    // Same trade graph but DIRECTED (supplier → customer only): every
    // customer node is a sink, so the dangling term is exercised for
    // real. The oracle's unrolled CTEs carry the per-iteration dangling
    // sum (decimal-exact, mirrored literals) — the form a user comparing
    // against NetworkX expects.
    Query("q_pagerank_full", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000000000L).as("dst"))
        .distinct()
      graft.ops.Graph.pageRank(edges, iters = 3, redistributeDangling = true)
        .orderBy(desc("rank"), col("node")).limit(50)
    }), {
      // dangling-mass form: per-iteration CTEs also carry the decimal-exact
      // sum of rank parked on out-degree-0 nodes, redistributed uniformly —
      // same literals/rounding/IEEE op order as Graph.pageRank's
      // redistributeDangling branch
      def c(i: Int, prev: String) =
        s"""c$i AS (
              SELECT e.dst AS node,
                CAST(SUM(CAST(r.rank / d.deg AS DECIMAL(28,12))) AS DOUBLE)
                  AS in_sum
              FROM edges e
              JOIN $prev r ON e.src = r.node
              JOIN deg d ON e.src = d.src
              GROUP BY e.dst)"""
      def dang(i: Int, prev: String) =
        s"""dang$i AS (
              SELECT COALESCE(
                CAST(SUM(CAST(rank AS DECIMAL(28,12))) AS DOUBLE),
                CAST(0 AS DOUBLE)) AS dang
              FROM $prev WHERE node NOT IN (SELECT src FROM deg))"""
      def r(i: Int) =
        s"""r$i AS (
              SELECT nodes.node,
                (1 - CAST(0.85 AS DOUBLE)) / n
                  + CAST(0.85 AS DOUBLE)
                    * (COALESCE(c$i.in_sum, CAST(0 AS DOUBLE))
                       + dang$i.dang / n) AS rank
              FROM nodes CROSS JOIN nn CROSS JOIN dang$i
              LEFT JOIN c$i ON nodes.node = c$i.node)"""
      s"""WITH edges AS (
            SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000000000 AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          nodes AS (
            SELECT src AS node FROM edges
            UNION
            SELECT dst AS node FROM edges),
          nn AS (SELECT count(*) AS n FROM nodes),
          deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
          r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank
                 FROM nodes CROSS JOIN nn),
          ${c(1, "r0")}, ${dang(1, "r0")}, ${r(1)},
          ${c(2, "r1")}, ${dang(2, "r1")}, ${r(2)},
          ${c(3, "r2")}, ${dang(3, "r2")}, ${r(3)}
          SELECT node, ROUND(rank, 6) AS rank FROM r3
          ORDER BY ROUND(rank, 6) DESC, node LIMIT 50"""
    }),

    // ── 3-core of the part co-purchase graph ────────────────────────────
    // Fixed 5-round peel (Graph.kCore) over the SAME support-floored
    // co-purchase edges as q_triangles, symmetrized — the density filter
    // graph curation applies before trusting clustering signals. The
    // oracle unrolls the five peels as CTEs; the spec proves five rounds
    // reach the fixpoint on a planted core+tendril graph.
    Query("q_kcore", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      // persisted: the symmetrize union otherwise re-runs the
      // support-floored co-purchase self-join per branch (the q_pagerank
      // note — the q_sssp/q_bfs bodies already persist this relation);
      // Graph.kCore's own entry checkpoint then materializes the union
      // once for the peels.
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select(col("src"), col("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sym = pairs.unionByName(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.Graph.kCore(sym, k = 3, rounds = 5)
        .orderBy("node")
    }), {
      // five unrolled peel rounds: dR = degrees over e(R−1), nR = survivors,
      // eR = both-endpoint filter — generated so round count cannot drift
      // from the engine's rounds = 5
      val rounds = (1 to 5).map { r =>
        s"""d$r AS (SELECT src, count(*) AS c FROM e${r - 1} GROUP BY 1),
          n$r AS (SELECT src AS n FROM d$r WHERE c >= 3),
          e$r AS (SELECT e.src, e.dst FROM e${r - 1} e
                  JOIN n$r a ON e.src = a.n JOIN n$r b ON e.dst = b.n)"""
      }.mkString(",\n          ")
      s"""WITH ep AS (
            SELECT x.l_partkey AS src, y.l_partkey AS dst
            FROM lineitem x JOIN lineitem y
              ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2),
          e0 AS (SELECT src, dst FROM ep
                 UNION ALL SELECT dst, src FROM ep),
          $rounds
          SELECT src AS node, count(*) AS degree FROM e5
          GROUP BY 1 ORDER BY node"""
    }),

    // ── Per-node triangle counts over the part co-purchase graph ────────
    // Edges: part pairs co-purchased in ≥ 2 orders (keyed self-join on
    // l_orderkey, a<b, support floor — the frequent-itemset practice that
    // prunes one-off co-occurrence noise and keeps the edge count
    // scale-stable: 3.6k edges at sf0.01 AND at sf0.1, where the
    // unfloored graph grows 10×). Degree-ordered wedge-close enumeration
    // (Graph.triangleCounts) — keyed joins only; top-100 most clustered
    // parts.
    Query("q_triangles", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select(col("src"), col("dst"))
      graft.ops.Graph.triangleCounts(pairs)
        .orderBy(desc("n_triangles"), col("node")).limit(100)
    }),
      """WITH pairs AS (
            SELECT x.l_partkey AS a, y.l_partkey AS b
            FROM lineitem x
            JOIN lineitem y ON x.l_orderkey = y.l_orderkey
                           AND x.l_partkey < y.l_partkey
            GROUP BY a, b HAVING count(*) >= 2),
          tri AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM pairs e1
            JOIN pairs e2 ON e1.b = e2.a
            JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
          corners AS (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
          SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
          FROM corners GROUP BY node
          ORDER BY n_triangles DESC, node LIMIT 100"""),

    // ── Local clustering coefficient over the co-purchase graph ─────────
    // Same support-floored pairs relation as q_triangles; coef(v) =
    // 2·T(v)/(deg(v)·(deg(v)−1)) via Graph.clusteringCoef (degree-ordered
    // wedge closing + one |V|-scale left join — nothing revisits the fact
    // table after the pair aggregate). The community-vs-aggregator read
    // graph curation runs before trusting co-occurrence signals: high
    // coef = parts bought in coherent kits, low-coef hubs = staples that
    // co-occur with everything. Top-100 by (coef, node); deg ≥ 2 only.
    Query("q_clustering_coef", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select(col("src"), col("dst"))
      graft.ops.Graph.clusteringCoef(pairs)
        .orderBy(desc("clustering"), col("node")).limit(100)
    }),
      """WITH pairs AS (
            SELECT x.l_partkey AS a, y.l_partkey AS b
            FROM lineitem x
            JOIN lineitem y ON x.l_orderkey = y.l_orderkey
                           AND x.l_partkey < y.l_partkey
            GROUP BY a, b HAVING count(*) >= 2),
          deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
              SELECT a AS node FROM pairs
              UNION ALL SELECT b FROM pairs) GROUP BY node),
          tri AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM pairs e1
            JOIN pairs e2 ON e1.b = e2.a
            JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
          corners AS (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri),
          tcnt AS (
            SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
            FROM corners GROUP BY node)
          SELECT d.node, d.degree,
            CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
            ROUND(CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
                  / (d.degree * (d.degree - 1)), 6) AS clustering
          FROM deg d LEFT JOIN tcnt t ON d.node = t.node
          WHERE d.degree >= 2
          ORDER BY clustering DESC, d.node LIMIT 100"""),

    // ── Modularity of the brand partition over the co-purchase graph ────
    // Does the catalog's own taxonomy explain the co-purchase structure —
    // the community-quality score (Newman Q) for the p_brand partition:
    // per brand, Q_c = m_c/m − (d_c/2m)², from exact integer edge/degree
    // counts over the same support-floored pairs relation as q_triangles
    // (persisted — it feeds within-count, degree sums, and node counts);
    // one double chain per ≤|brands| row, the 1-row edge total broadcast.
    // Σ Q_c near 0 ⇒ brands are not communities here — itself the read.
    Query("q_modularity", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select(col("src"), col("dst"))
      val br = t(s, dir, "part")
      val e = pairs
        .join(br.select(col("p_partkey").as("src"),
          col("p_brand").as("brand_src")), Seq("src"))
        .join(br.select(col("p_partkey").as("dst"),
          col("p_brand").as("brand_dst")), Seq("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val m = e.agg(count(lit(1)).as("m"))
      val mc = e.where(col("brand_src") === col("brand_dst"))
        .groupBy(col("brand_src").as("brand"))
        .agg(count(lit(1)).as("m_within"))
      val dc = e.select(col("brand_src").as("brand"))
        .unionByName(e.select(col("brand_dst").as("brand")))
        .groupBy(col("brand")).agg(count(lit(1)).as("deg_sum"))
      val nn = e.select(col("src").as("node"), col("brand_src").as("brand"))
        .unionByName(e.select(col("dst").as("node"),
          col("brand_dst").as("brand")))
        .distinct().groupBy(col("brand")).agg(count(lit(1)).as("n_nodes"))
      val x = col("deg_sum").cast("double") / (lit(2L) * col("m"))
      dc.join(nn, Seq("brand"))
        .join(mc, Seq("brand"), "left").na.fill(0L, Seq("m_within"))
        .crossJoin(broadcast(m)) // 1-row edge total
        .select(col("brand"), col("n_nodes"), col("m_within"), col("deg_sum"),
          round(col("m_within").cast("double") / col("m") - x * x, 6)
            .as("q_contrib"))
        .orderBy("brand")
    }),
      """WITH pairs AS (
            SELECT x.l_partkey AS a, y.l_partkey AS b
            FROM lineitem x
            JOIN lineitem y ON x.l_orderkey = y.l_orderkey
                           AND x.l_partkey < y.l_partkey
            GROUP BY a, b HAVING count(*) >= 2),
          e AS (
            SELECT pr.a AS src, pr.b AS dst,
              p1.p_brand AS brand_src, p2.p_brand AS brand_dst
            FROM pairs pr
            JOIN part p1 ON p1.p_partkey = pr.a
            JOIN part p2 ON p2.p_partkey = pr.b),
          m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
          mc AS (SELECT brand_src AS brand, CAST(count(*) AS BIGINT)
              AS m_within FROM e WHERE brand_src = brand_dst GROUP BY 1),
          dc AS (SELECT brand, CAST(count(*) AS BIGINT) AS deg_sum FROM (
              SELECT brand_src AS brand FROM e
              UNION ALL SELECT brand_dst FROM e) GROUP BY 1),
          nn AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_nodes FROM (
              SELECT DISTINCT node, brand FROM (
                SELECT src AS node, brand_src AS brand FROM e
                UNION ALL SELECT dst, brand_dst FROM e)) GROUP BY 1)
          SELECT dc.brand, nn.n_nodes,
            CAST(COALESCE(mc.m_within, 0) AS BIGINT) AS m_within, dc.deg_sum,
            ROUND(CAST(COALESCE(mc.m_within, 0) AS DOUBLE) / m
              - (CAST(dc.deg_sum AS DOUBLE) / (2*m))
                * (CAST(dc.deg_sum AS DOUBLE) / (2*m)), 6) AS q_contrib
          FROM dc JOIN nn USING (brand) LEFT JOIN mc USING (brand)
          CROSS JOIN m ORDER BY dc.brand"""),

    // ── Seeded label propagation over the co-purchase graph ─────────────
    // Semi-supervised community assignment: 10% of graph parts (partkey ≡
    // 0 mod 10) seed with their p_brand, then two synchronous rounds —
    // each still-unlabeled node takes the MAJORITY label among its
    // labeled neighbors (count desc, label asc tiebreak — total order, so
    // the sweep is deterministic), assigned nodes keep their label. The
    // Pregel shape: per round one keyed neighbor join + one keyed
    // majority window + an anti-join guard; rounds bound the plan, the
    // frontier relation is node-scale. The transductive labeling pass a
    // catalog-completion pipeline runs where most nodes lack metadata.
    Query("q_label_prop", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select(col("src"), col("dst"))
      val sym = pairs.unionByName(
          pairs.select(col("dst").as("src"), col("src").as("dst")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = sym.select(col("src").as("node")).distinct()
      val seeds = nodes
        .join(t(s, dir, "part").select(col("p_partkey").as("node"),
          col("p_brand").as("label")), Seq("node"))
        .where(col("node") % 10 === 0)
      // lab⁽ᵏ⁾ is read THREE times per round (votes join, anti-join
      // guard, carry-over union) — unpersisted that is the Graph.sssp
      // 3^rounds re-derivation shape. Persist the node-scale round
      // relation (caches are caller-released per query). At the fixed 2
      // rounds only two node-scale pins accumulate, so no in-query
      // supersedable release is needed (ADVICE r15); a deeper-round
      // variant should adopt Graph.hits' localCheckpoint-cut cadence.
      val labels = (1 to 2).foldLeft(seeds) { (lab0, _) =>
        val lab = lab0
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val votes = sym
          .join(lab.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        val newly = votes
          .join(lab.select(col("node").as("dst")), Seq("dst"), "left_anti")
          .withColumn("rn", row_number().over(W.partitionBy(col("dst"))
            .orderBy(desc("cnt"), asc("label"))))
          .where(col("rn") === 1)
          .select(col("dst").as("node"), col("label"))
        lab.unionByName(newly)
      }
      labels.orderBy("node")
    }),
      """WITH pairs AS (
            SELECT x.l_partkey AS a, y.l_partkey AS b
            FROM lineitem x
            JOIN lineitem y ON x.l_orderkey = y.l_orderkey
                           AND x.l_partkey < y.l_partkey
            GROUP BY a, b HAVING count(*) >= 2),
          sym AS (SELECT a AS src, b AS dst FROM pairs
            UNION ALL SELECT b, a FROM pairs),
          nodes AS (SELECT DISTINCT src AS node FROM sym),
          l0 AS (SELECT n.node, p.p_brand AS label FROM nodes n
            JOIN part p ON p.p_partkey = n.node WHERE n.node % 10 = 0),
          v1 AS (SELECT s.dst AS node, l.label, count(*) AS cnt
            FROM sym s JOIN l0 l ON l.node = s.src GROUP BY 1, 2),
          n1 AS (SELECT node, label FROM (
              SELECT node, label, row_number() OVER (PARTITION BY node
                ORDER BY cnt DESC, label ASC) AS rn
              FROM v1 WHERE node NOT IN (SELECT node FROM l0)) WHERE rn = 1),
          l1 AS (SELECT * FROM l0 UNION ALL SELECT * FROM n1),
          v2 AS (SELECT s.dst AS node, l.label, count(*) AS cnt
            FROM sym s JOIN l1 l ON l.node = s.src GROUP BY 1, 2),
          n2 AS (SELECT node, label FROM (
              SELECT node, label, row_number() OVER (PARTITION BY node
                ORDER BY cnt DESC, label ASC) AS rn
              FROM v2 WHERE node NOT IN (SELECT node FROM l1)) WHERE rn = 1),
          l2 AS (SELECT * FROM l1 UNION ALL SELECT * FROM n2)
          SELECT node, label FROM l2 ORDER BY node"""),

    // ── Bounded BFS from the smallest part (reachability profile) ───────
    // How far does influence travel in the co-purchase graph: per hop
    // count ≤ 4 from the minimum part key, node counts and the min node
    // id per level (Graph.bfsDistances — level-synchronous keyed frontier
    // joins + anti-join dedup; the Pregel shape, fixed rounds). The seed
    // arrives as a 1-value bounded driver collect (the kmeans-seed
    // precedent).
    Query("q_bfs", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select(col("src"), col("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seed = pairs.agg(min(least(col("src"), col("dst"))))
        .head().getLong(0) // 1-value bounded driver scalar
      graft.ops.Graph.bfsDistances(pairs, seed, maxHops = 4)
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
        .orderBy("dist")
    }),
      // unrolled level-synchronous frontiers (EXCEPT = the anti-join dedup).
      """WITH canon AS (
            SELECT x.l_partkey AS a, y.l_partkey AS b
            FROM lineitem x JOIN lineitem y
              ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
            GROUP BY a, b HAVING count(*) >= 2),
          sym AS (SELECT a AS u, b AS v FROM canon
                  UNION ALL SELECT b, a FROM canon),
          f0 AS (SELECT min(u) AS node FROM sym),
          f1 AS (SELECT DISTINCT s.v AS node
                 FROM sym s JOIN f0 ON s.u = f0.node
                 EXCEPT SELECT node FROM f0),
          f2 AS (SELECT DISTINCT s.v AS node
                 FROM sym s JOIN f1 ON s.u = f1.node
                 EXCEPT (SELECT node FROM f0 UNION SELECT node FROM f1)),
          f3 AS (SELECT DISTINCT s.v AS node
                 FROM sym s JOIN f2 ON s.u = f2.node
                 EXCEPT (SELECT node FROM f0 UNION SELECT node FROM f1
                         UNION SELECT node FROM f2)),
          f4 AS (SELECT DISTINCT s.v AS node
                 FROM sym s JOIN f3 ON s.u = f3.node
                 EXCEPT (SELECT node FROM f0 UNION SELECT node FROM f1
                         UNION SELECT node FROM f2
                         UNION SELECT node FROM f3)),
          lv AS (SELECT node, 0 AS dist FROM f0
                 UNION ALL SELECT node, 1 FROM f1
                 UNION ALL SELECT node, 2 FROM f2
                 UNION ALL SELECT node, 3 FROM f3
                 UNION ALL SELECT node, 4 FROM f4)
          SELECT CAST(dist AS INT) AS dist,
            CAST(count(*) AS BIGINT) AS n_nodes,
            min(node) AS min_node
          FROM lv GROUP BY dist ORDER BY dist"""),

    // ── Nearest-direction as-of join (sensor-alignment semantics) ───────
    // pandas merge_asof(direction='nearest'): every view matched to the
    // click minimizing |Δt| in EITHER direction per user — a click 1 s
    // later beats one 5 min earlier, where q_join_asof's backward-only
    // form takes the stale one (AsofJoin.asofJoinNearest: one union
    // exchange, two shared-sort window legs, Δt=0 ties backward).
    Query("q_asof_nearest", ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us").as("click_us"))
        .agg(max(col("value")).as("click_value")) // unique (key, time)
      AsofJoin.asofJoinNearest(views, clicks, "user_id", "ts_us",
          "click_us", Seq("click_value"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("nearest_click_value"), lit(-1.0))
            .as("nearest_click_value"),
          col("nearest_dt_us"), col("nearest_dir"))
        .orderBy("event_id")
    }),
      // union-and-scan mirror: backward = running last_value, forward =
      // reversed-tie first_value; Δt in exact epoch micros, ties backward.
      """WITH v AS (
            SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
            FROM events WHERE event_type = 'view'),
          c AS (
            SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS click_us,
              max(value) AS click_value
            FROM events WHERE event_type = 'click' GROUP BY 1, 2),
          u AS (
            SELECT user_id, ts_us AS t, 1 AS m, event_id,
              CAST(NULL AS STRUCT(rt BIGINT, cv DOUBLE)) AS p
            FROM v
            UNION ALL
            SELECT user_id, click_us, 0, NULL,
              {'rt': click_us, 'cv': click_value}
            FROM c),
          w AS (
            SELECT user_id, t, m, event_id,
              last_value(p IGNORE NULLS) OVER (PARTITION BY user_id
                ORDER BY t, m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
              first_value(p IGNORE NULLS) OVER (PARTITION BY user_id
                ORDER BY t, m DESC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS pf
            FROM u),
          k AS (
            SELECT event_id, user_id, t AS ts_us, pb, pf,
              t - pb.rt AS dtb, pf.rt - t AS dtf
            FROM w WHERE m = 1),
          r AS (
            SELECT event_id, user_id, ts_us, pb, pf, dtb, dtf,
              CASE WHEN pb IS NULL AND pf IS NULL THEN 'none'
                   WHEN pf IS NULL OR (pb IS NOT NULL AND dtb <= dtf)
                     THEN 'backward'
                   ELSE 'forward' END AS nearest_dir
            FROM k)
          SELECT event_id, user_id, ts_us,
            coalesce(CASE WHEN nearest_dir = 'backward' THEN pb.cv
                          WHEN nearest_dir = 'forward' THEN pf.cv END,
              -1.0) AS nearest_click_value,
            CAST(CASE WHEN nearest_dir = 'none' THEN -1
                      WHEN nearest_dir = 'backward' THEN dtb
                      ELSE dtf END AS BIGINT) AS nearest_dt_us,
            nearest_dir
          FROM r ORDER BY event_id"""),

    // ── Adamic–Adar link prediction on the co-purchase graph ────────────
    // "Which parts SHOULD co-occur next": for non-adjacent part pairs,
    // common co-purchase neighbors weighted by 1/ln(deg) — hubs count
    // less (Graph.adamicAdar; hub centers > 64 leave the wedge relation,
    // the adaptiveMaxDf rationale on graphs). Same support-floored edge
    // relation as q_triangles; wedge self-join keyed on the center,
    // per-wedge weights quantized DECIMAL(30,10) so the pair sum is
    // shuffle-order-exact; top-20 by the exact decimal, ties (u, v).
    Query("q_adamic_adar", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select(col("src"), col("dst"))
      graft.ops.Graph.adamicAdar(pairs, maxHubDegree = 64)
        .orderBy(desc("aa_dec"), col("u"), col("v")).limit(20)
        .select(col("u"), col("v"), col("n_common"), col("aa_score"))
    }),
      // same wedge-at-center enumeration, weights quantized DECIMAL(30,10)
      // per wedge so both engines sum identical exact values.
      """WITH canon AS (
            SELECT x.l_partkey AS a, y.l_partkey AS b
            FROM lineitem x
            JOIN lineitem y ON x.l_orderkey = y.l_orderkey
                           AND x.l_partkey < y.l_partkey
            GROUP BY a, b HAVING count(*) >= 2),
          sym AS (
            SELECT a AS u, b AS v FROM canon
            UNION ALL SELECT b, a FROM canon),
          deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
                  FROM sym GROUP BY u),
          ctr AS (
            SELECT s.v AS w, s.u AS n, d.deg AS dw
            FROM sym s JOIN deg d ON s.v = d.u WHERE d.deg <= 64),
          wedges AS (
            SELECT p.n AS u, q.n AS v,
              CAST(CAST(1 AS DOUBLE) / ln(CAST(p.dw AS DOUBLE))
                AS DECIMAL(30,10)) AS aa_w
            FROM ctr p JOIN ctr q ON p.w = q.w AND p.n < q.n),
          scored AS (
            SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
              SUM(aa_w) AS aa_dec
            FROM wedges GROUP BY u, v),
          pred AS (
            SELECT s.u, s.v, s.n_common, s.aa_dec
            FROM scored s
            LEFT JOIN canon c ON s.u = c.a AND s.v = c.b
            WHERE c.a IS NULL)
          SELECT u, v, n_common,
            ROUND(CAST(aa_dec AS DOUBLE), 6) AS aa_score
          FROM pred ORDER BY aa_dec DESC, u, v LIMIT 20"""),

    // ── Degree assortativity of the co-purchase graph ────────────────────
    // Do hubs link to hubs? Pearson r over the degree pairs at every
    // edge's endpoints, stub-counted (each edge contributes (dₐ,d_b) AND
    // (d_b,dₐ) so the marginals coincide — the standard Newman form).
    // Degrees are ints, so every moment sum is exact int64; one double
    // chain at the edge, rounded once. Two keyed degree joins onto the
    // support-floored canonical edge relation — the hub-wiring read that
    // predicts whether q_join_salted-style skew handling will matter on
    // graph joins.
    Query("q_degree_assort", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      // persisted: the support-floored edge relation feeds THREE branches
      // (degree explode + both endpoint degree joins) — unpersisted, the
      // co-purchase self-join ran 3× (QueryProfile sf0.1: one 9.2 s
      // 32-task stage + two 12 MB-read rescans). Same contract as the
      // q_kcore/q_sssp bodies; the graph kernels persist their canonical
      // form internally for exactly this reason.
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select(col("a"), col("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val deg = pairs.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      pairs
        .join(deg.select(col("node").as("a"), col("deg").as("da")),
          Seq("a"))
        .join(deg.select(col("node").as("b"), col("deg").as("db")),
          Seq("b"))
        .agg(count(lit(1)).as("n_edges"),
          sum(col("da") + col("db")).as("sx"),
          sum(col("da") * col("da") + col("db") * col("db")).as("sxx"),
          sum(col("da") * col("db") * 2L).as("sxy"))
        .select(col("n_edges"),
          round(((col("n_edges") * 2L).cast("double") * col("sxy")
              - col("sx").cast("double") * col("sx")) /
            ((col("n_edges") * 2L).cast("double") * col("sxx")
              - col("sx").cast("double") * col("sx")), 6)
            .as("assortativity"))
    }),
      """WITH pairs AS (
           SELECT x.l_partkey AS a, y.l_partkey AS b
           FROM lineitem x
           JOIN lineitem y ON x.l_orderkey = y.l_orderkey
                          AND x.l_partkey < y.l_partkey
           GROUP BY a, b HAVING count(*) >= 2),
         deg AS (
           SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
             SELECT a AS node FROM pairs
             UNION ALL SELECT b FROM pairs) GROUP BY node),
         m AS (
           SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(da.deg + db.deg) AS BIGINT) AS sx,
             CAST(sum(da.deg * da.deg + db.deg * db.deg) AS BIGINT)
               AS sxx,
             CAST(sum(da.deg * db.deg * 2) AS BIGINT) AS sxy
           FROM pairs p
           JOIN deg da ON p.a = da.node
           JOIN deg db ON p.b = db.node)
         SELECT n_edges,
           ROUND((CAST(n_edges * 2 AS DOUBLE) * sxy
                  - CAST(sx AS DOUBLE) * sx)
             / (CAST(n_edges * 2 AS DOUBLE) * sxx
                  - CAST(sx AS DOUBLE) * sx), 6) AS assortativity
         FROM m"""),

    // ── Market-basket association rules (support / confidence / lift) ───
    // Frequent co-purchase pairs from the order→part bipartite relation:
    // support c_ab from the l_orderkey-keyed self-join (a<b, floor ≥ 2 —
    // the frequent-itemset prune that keeps the pair relation
    // scale-stable), per-part order counts c_a from one map-side-combined
    // aggregate, N from one scalar aggregate joined back as an
    // allowlisted 1-row broadcast. lift = N·c_ab/(c_a·c_b) and
    // conf(a→b) = c_ab/c_a in exact int64 numerators with one IEEE
    // double division each, rounded once at 6. At 100 TB the self-join
    // cost is Σ basket², bounded by basket size not corpus size, and
    // every join is keyed — no all-pairs anywhere. Top-100 by lift.
    Query("q_basket_lift", ((s, dir) => {
      // persisted: the distinct (order, part) relation feeds FOUR plan
      // branches (order count, per-part counts, both pair-join sides) —
      // unpersisted, the scan+distinct ran 3× (QueryProfile sf0.1: three
      // ~0.7 s 3-task distinct stages + two 32-task re-reads). Same
      // caller-managed cache contract as verifiedNearDupsFromHashes.
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = li.agg(count_distinct(col("l_orderkey")).as("n_orders"))
      val pc = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("part_a"),
          col("y.l_partkey").as("part_b"))
        .agg(count(lit(1)).as("c_ab"))
        .where(col("c_ab") >= 2)
      pairs
        .join(pc.select(col("l_partkey").as("part_a"), col("c").as("c_a")),
          Seq("part_a"))
        .join(pc.select(col("l_partkey").as("part_b"), col("c").as("c_b")),
          Seq("part_b"))
        .crossJoin(broadcast(n))
        .select(col("part_a"), col("part_b"), col("c_ab"),
          round(col("c_ab").cast("double") / col("c_a"), 6).as("conf_ab"),
          round((col("n_orders") * col("c_ab")).cast("double") /
            (col("c_a") * col("c_b")), 6).as("lift"))
        .orderBy(desc("lift"), col("part_a"), col("part_b")).limit(100)
    }),
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
                  AS n_orders FROM li),
          pc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
                 FROM li GROUP BY 1),
          pairs AS (
            SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
                   CAST(count(*) AS BIGINT) AS c_ab
            FROM li x
            JOIN li y ON x.l_orderkey = y.l_orderkey
                     AND x.l_partkey < y.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2)
          SELECT part_a, part_b, c_ab,
            ROUND(CAST(c_ab AS DOUBLE) / ca.c, 6) AS conf_ab,
            ROUND(CAST(n.n_orders * c_ab AS DOUBLE) / (ca.c * cb.c), 6)
              AS lift
          FROM pairs
          JOIN pc ca ON part_a = ca.l_partkey
          JOIN pc cb ON part_b = cb.l_partkey
          CROSS JOIN n
          ORDER BY lift DESC, part_a, part_b LIMIT 100"""),

    // ── HITS hubs & authorities over the directed trade graph ───────────
    // Kleinberg's mutual-reinforcement ranking on the supplier→customer
    // graph (the q_pagerank_full edge relation): hubs are suppliers whose
    // customers are themselves heavily-supplied, authorities the
    // customers those hubs concentrate on — the two-sided importance
    // read PageRank's single score can't give. Two fixed iterations of
    // Graph.hits (keyed join+aggregate pairs, DECIMAL scores between
    // steps, one rounded double divide per normalization); the oracle
    // unrolls all four propagations as CTEs with identical literals.
    // Top-15 per side, ties broken by node.
    Query("q_hits", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000000000L).as("dst"))
        .distinct()
      val hk = graft.ops.Graph.hits(edges, iters = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val topH = hk.where(col("hub").isNotNull)
        .select(lit("hub").as("role"), col("node"), col("hub").as("score"))
        .orderBy(desc("score"), col("node")).limit(15)
      val topA = hk.where(col("authority").isNotNull)
        .select(lit("authority").as("role"), col("node"),
          col("authority").as("score"))
        .orderBy(desc("score"), col("node")).limit(15)
      topA.unionByName(topH)
        .orderBy(col("role"), desc("score"), col("node"))
    }),
      """WITH fwd AS (SELECT DISTINCT l_suppkey AS src,
            o_custkey + 1000000000000 AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         a1r AS (SELECT dst, SUM(CAST(1.0 AS DECIMAL(12,6))) AS raw
           FROM fwd GROUP BY 1),
         a1t AS (SELECT SUM(raw) AS tot FROM a1r),
         a1 AS (SELECT dst AS node,
             CAST(ROUND(CAST(raw AS DOUBLE) / CAST(tot AS DOUBLE), 6)
               AS DECIMAL(12,6)) AS a
           FROM a1r CROSS JOIN a1t),
         h1r AS (SELECT f.src, SUM(a.a) AS raw
           FROM fwd f JOIN a1 a ON f.dst = a.node GROUP BY 1),
         h1t AS (SELECT SUM(raw) AS tot FROM h1r),
         h1 AS (SELECT src AS node,
             CAST(ROUND(CAST(raw AS DOUBLE) / CAST(tot AS DOUBLE), 6)
               AS DECIMAL(12,6)) AS h
           FROM h1r CROSS JOIN h1t),
         a2r AS (SELECT f.dst, SUM(h.h) AS raw
           FROM fwd f JOIN h1 h ON f.src = h.node GROUP BY 1),
         a2t AS (SELECT SUM(raw) AS tot FROM a2r),
         a2 AS (SELECT dst AS node,
             CAST(ROUND(CAST(raw AS DOUBLE) / CAST(tot AS DOUBLE), 6)
               AS DECIMAL(12,6)) AS a
           FROM a2r CROSS JOIN a2t),
         h2r AS (SELECT f.src, SUM(a.a) AS raw
           FROM fwd f JOIN a2 a ON f.dst = a.node GROUP BY 1),
         h2t AS (SELECT SUM(raw) AS tot FROM h2r),
         h2 AS (SELECT src AS node,
             CAST(ROUND(CAST(raw AS DOUBLE) / CAST(tot AS DOUBLE), 6)
               AS DECIMAL(12,6)) AS h
           FROM h2r CROSS JOIN h2t),
         ranked AS (
           SELECT 'authority' AS role, node, CAST(a AS DOUBLE) AS score,
             row_number() OVER (ORDER BY a DESC, node) AS rn FROM a2
           UNION ALL
           SELECT 'hub' AS role, node, CAST(h AS DOUBLE) AS score,
             row_number() OVER (ORDER BY h DESC, node) AS rn FROM h2)
         SELECT role, node, score FROM ranked WHERE rn <= 15
         ORDER BY role, score DESC, node"""),

    // ── Weighted SSSP over the co-purchase graph ─────────────────────────
    // q_bfs's hop counts, upgraded to WEIGHTED distance: edge length =
    // round(1/support, 6) (strong co-purchase ties are short), so the
    // result ranks parts by affinity-path closeness to the seed — the
    // related-items expansion a recommender walks. Four Bellman–Ford
    // relaxation rounds (Graph.sssp: keyed propagate-join + keyed
    // min-fold per round, the q_bfs frontier shape); the oracle unrolls
    // the rounds as CTEs. Distances are exact DECIMAL(20,6) sums of the
    // quantized weights, so min-folds can't FP-tie; the seed is the
    // 1-value bounded driver scalar (the q_bfs precedent). Top-20
    // closest, node-tiebroken.
    Query("q_sssp", ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val canon = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
        .agg(count(lit(1)).as("sup"))
        .where(col("sup") >= 2)
        .select(col("a"), col("b"),
          round(lit(1.0) / col("sup"), 6).cast("decimal(12,6)").as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sym = canon.select(col("a").as("src"), col("b").as("dst"),
          col("w"))
        .unionByName(canon.select(col("b").as("src"), col("a").as("dst"),
          col("w")))
      val seed = canon.agg(min(least(col("a"), col("b"))))
        .head().getLong(0) // 1-value bounded driver scalar
      graft.ops.Graph.sssp(sym, seed, rounds = 4)
        .where(col("d").isNotNull)
        .select(col("node"), col("d").cast("double").as("dist"))
        .orderBy(col("dist"), col("node")).limit(20)
    }),
      """WITH canon AS (
            SELECT x.l_partkey AS a, y.l_partkey AS b,
              CAST(round(1.0 / count(*), 6) AS DECIMAL(12,6)) AS w
            FROM lineitem x JOIN lineitem y
              ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
            GROUP BY a, b HAVING count(*) >= 2),
          sym AS (SELECT a AS src, b AS dst, w FROM canon
                  UNION ALL SELECT b, a, w FROM canon),
          seed AS (SELECT min(least(a, b)) AS s FROM canon),
          nodes AS (SELECT DISTINCT src AS node FROM sym
                    UNION SELECT DISTINCT dst FROM sym),
          d0 AS (SELECT node, CASE WHEN node = seed.s
              THEN CAST(0 AS DECIMAL(20,6)) END AS d
            FROM nodes CROSS JOIN seed),
          d1 AS (SELECT node, min(d) AS d FROM (
              SELECT node, d FROM d0
              UNION ALL SELECT e.dst, CAST(p.d + e.w AS DECIMAL(20,6))
              FROM sym e JOIN d0 p ON e.src = p.node
              WHERE p.d IS NOT NULL) GROUP BY 1),
          d2 AS (SELECT node, min(d) AS d FROM (
              SELECT node, d FROM d1
              UNION ALL SELECT e.dst, CAST(p.d + e.w AS DECIMAL(20,6))
              FROM sym e JOIN d1 p ON e.src = p.node
              WHERE p.d IS NOT NULL) GROUP BY 1),
          d3 AS (SELECT node, min(d) AS d FROM (
              SELECT node, d FROM d2
              UNION ALL SELECT e.dst, CAST(p.d + e.w AS DECIMAL(20,6))
              FROM sym e JOIN d2 p ON e.src = p.node
              WHERE p.d IS NOT NULL) GROUP BY 1),
          d4 AS (SELECT node, min(d) AS d FROM (
              SELECT node, d FROM d3
              UNION ALL SELECT e.dst, CAST(p.d + e.w AS DECIMAL(20,6))
              FROM sym e JOIN d3 p ON e.src = p.node
              WHERE p.d IS NOT NULL) GROUP BY 1)
          SELECT node, CAST(d AS DOUBLE) AS dist FROM d4
          WHERE d IS NOT NULL ORDER BY dist, node LIMIT 20"""),
  )
}
