package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.Tables
import graft.functions.{Exact, Hashes}
import OracleSql._

/** Window / date-time / JSON / array / string / math function surface
  * (SURVEY §2.2 rows "Window functions", "Date/time", "Array/map/JSON",
  * "String functions", "Math functions" — all reference-absent, committed
  * via the north star).
  *
  * Determinism rules as in [[RelationalQueries]]; additionally every window
  * ORDER BY carries a unique tiebreaker column (orderdate ties exist per
  * customer), and per-row double math (sqrt, ln, multiply) is IEEE-identical
  * across engines so only aggregated doubles need the decimal route.
  */
object AnalyticQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.parTable(s, dir, name)

  /** Plain (unwidened) scan — see RelationalQueries.tn: for join/window/
    * agg-first shapes the parTable widen sits upstream of another exchange
    * and the r18 sweep pair measured it as pure overhead (+0.1–0.6 s). */
  private def tn(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  val queries: Seq[Query] = Seq(
    // ── Window: ranking ─────────────────────────────────────────────────
    // Top-3 customers per market segment by balance. row_number (not rank):
    // the tiebreak on custkey makes it deterministic.
    Query("q_window_rank", ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("c_mktsegment"), col("rn"), col("c_custkey"), col("c_acctbal"))
        .orderBy("c_mktsegment", "rn")
    }),
      """SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
           FROM customer)
         WHERE rn <= 3 ORDER BY c_mktsegment, rn"""),
    // ── Window: analytic (lag) ──────────────────────────────────────────
    Query("q_window_lag", ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      tn(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          coalesce(lag(col("o_totalprice"), 1).over(w), lit(-1.0)).as("prev_price"))
        .orderBy("o_orderkey")
    }),
      """SELECT o_orderkey, o_custkey,
            COALESCE(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate ASC, o_orderkey ASC), -1.0) AS prev_price
         FROM orders ORDER BY o_orderkey"""),
    // ── Window: explicit frame (running sum) ────────────────────────────
    Query("q_window_frame", ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tn(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(sum(col("o_totalprice").cast("decimal(28,10)")).over(w)
            .cast("double"), 4).as("running_total"))
        .orderBy("o_orderkey")
    }),
      """SELECT o_orderkey, o_custkey,
            ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
              AS running_total
         FROM orders ORDER BY o_orderkey"""),

    // ── Window: distribution functions (percent_rank/cume_dist/nth) ─────
    // Per market segment: each customer's balance percentile standing,
    // cumulative share, and the segment's 3rd-highest balance attached to
    // every row (nth_value over the full frame). The (c_acctbal, c_custkey)
    // total order pins every tie; doubles are k/(n−1)-style exact ratios of
    // small ints — identical in both engines.
    Query("q_window_dist", ((s, dir) => {
      val ord = Window.partitionBy(col("c_mktsegment"))
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
      val full = ord.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          round(percent_rank().over(ord), 6).as("pct_rank"),
          round(cume_dist().over(ord), 6).as("cume"),
          nth_value(col("c_acctbal"), 3).over(full).as("third_bal"))
        .orderBy("c_mktsegment", "pct_rank", "c_custkey")
    }),
      """SELECT c_mktsegment, c_custkey, c_acctbal,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume,
           nth_value(c_acctbal, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS third_bal
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment
                      ORDER BY c_acctbal DESC, c_custkey ASC)
         ORDER BY c_mktsegment, pct_rank, c_custkey"""),

    // ── Date/time ───────────────────────────────────────────────────────
    // Hourly event rollup; ts arrives as ns → µs via Tables.events.
    Query("q_events_hourly", ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"))
        .agg(count(lit(1)).as("cnt"), Exact.roundSum(col("value")).as("sum_value"))
        .orderBy("hour")),
      s"""SELECT date_trunc('hour', ts) AS hour, count(*) AS cnt,
            ${oSum("value", "sum_value")}
          FROM events GROUP BY 1 ORDER BY hour"""),
    Query("q_orders_monthly", ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("cnt"), Exact.roundSum(col("o_totalprice")).as("total"))
        .orderBy("o_year", "o_month")),
      s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
            CAST(month(o_orderdate) AS INT) AS o_month,
            count(*) AS cnt, ${oSum("o_totalprice", "total")}
          FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month"""),

    // ── Fano factor (burstiness) per event type ─────────────────────────
    // Dispersion index of hourly event counts: F = var/mean over the
    // dense hour grid — F ≈ 1 is Poisson, F ≫ 1 is bursty traffic (the
    // q_events_anomaly companion that characterizes the PROCESS, not the
    // outliers). The grid is span-bounded (hours in range), absent hours
    // count as zero via the dense-bucket denominator — moments fold from
    // the NON-ZERO buckets only (Σx, Σx² are unchanged by zero rows; n is
    // the grid size), so no gap-fill join is needed. Exact int64 moments;
    // one double chain per type.
    Query("q_fano", ((s, dir) => {
      val hours = Tables.events(s, dir)
        .select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000")
            .as("h"))
      val perH = hours.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val span = perH.agg((max(col("h")) - min(col("h")) + 1L).as("n_hours"))
      val m = perH.groupBy(col("event_type"))
        .agg(sum(col("c")).as("sx"),
          sum(col("c") * col("c")).as("sxx"))
      val nd = col("n_hours").cast("double")
      val mean = col("sx").cast("double") / nd
      val varr = col("sxx").cast("double") / nd - mean * mean
      m.crossJoin(broadcast(span)) // 1-row span
        .select(col("event_type"), col("n_hours"), col("sx").as("n_events"),
          round(mean, 6).as("mean_per_hour"),
          round(varr, 6).as("var_per_hour"),
          round(varr / mean, 6).as("fano"))
        .orderBy("event_type")
    }),
      """WITH perh AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         span AS (
           SELECT CAST(max(h) - min(h) + 1 AS BIGINT) AS n_hours
           FROM perh),
         m AS (
           SELECT event_type, CAST(SUM(c) AS BIGINT) AS sx,
             CAST(SUM(c * c) AS BIGINT) AS sxx
           FROM perh GROUP BY 1),
         k AS (
           SELECT event_type, n_hours, sx,
             CAST(sx AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean0,
             CAST(sxx AS DOUBLE) / CAST(n_hours AS DOUBLE)
               - (CAST(sx AS DOUBLE) / CAST(n_hours AS DOUBLE))
               * (CAST(sx AS DOUBLE) / CAST(n_hours AS DOUBLE)) AS var0
           FROM m, span)
         SELECT event_type, n_hours, sx AS n_events,
           ROUND(mean0, 6) AS mean_per_hour,
           ROUND(var0, 6) AS var_per_hour,
           ROUND(var0 / mean0, 6) AS fano
         FROM k ORDER BY event_type"""),

    // ── New-vs-returning mix per week (acquisition read) ────────────────
    // Per ISO-ish week (epoch-day div 7): events and actives split by
    // whether the user's FIRST-EVER activity falls in that week — the
    // audience-composition read behind growth accounting (q_week_churn's
    // forward-looking sibling). First-seen is one user-keyed min; the
    // week rollup joins it back on user_id — hint-free, because the
    // first-seen relation is USER-COUNT scale (unbounded at 100×): AQE's
    // size threshold picks broadcast when it fits and a shuffle join
    // when it doesn't (VERDICT r13 #1 — never force-broadcast a relation
    // that grows with the corpus).
    Query("q_new_returning", ((s, dir) => {
      val ev = Tables.events(s, dir, widen = false)
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 604800000000")
            .as("wk"))
      val first = ev.groupBy(col("user_id"))
        .agg(min(col("wk")).as("wk0"))
      ev.join(first, Seq("user_id"))
        .groupBy(col("wk"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          count_distinct(when(col("wk") === col("wk0"), col("user_id")))
            .as("n_new_users"))
        .select(col("wk"), col("n_events"), col("n_users"),
          col("n_new_users"),
          round(col("n_new_users").cast("double") / col("n_users"), 6)
            .as("new_share"))
        .orderBy("wk")
    }),
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
         f AS (SELECT user_id, min(wk) AS wk0 FROM ev GROUP BY 1)
         SELECT wk, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN wk = wk0 THEN ev.user_id END)
             AS BIGINT) AS n_new_users,
           ROUND(CAST(count(DISTINCT CASE WHEN wk = wk0 THEN ev.user_id END)
               AS DOUBLE)
             / count(DISTINCT ev.user_id), 6) AS new_share
         FROM ev JOIN f USING (user_id)
         GROUP BY wk ORDER BY wk"""),

    // ── Wilcoxon signed-rank (paired two-sample test, exact midranks) ───
    // The PAIRED member of the rank family (q_mannwhitney is the
    // independent one): per customer, H1-month spend vs H2-month spend
    // across the order history; zero diffs drop (standard Wilcoxon), W⁺
    // accumulates in DOUBLED midranks so every sum is an exact int64 (a
    // tied |d| group's 2·avg-rank is start+end — the q_mannwhitney
    // contract), and the normal z closes in one IEEE chain. |d| ranking
    // uses Ranks.globalCumWeight over the per-|d| grouped relation — the
    // distributed order-statistics kernel, NOT a constant-key window, so
    // the rank pass survives a customer count that grows with the data.
    Query("q_wilcoxon", ((s, dir) => {
      val dec = "decimal(30,10)"
      val diffs = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg((sum(when(month(col("o_orderdate")) <= 6,
              col("o_totalprice")).otherwise(0.0).cast(dec))
            - sum(when(month(col("o_orderdate")) > 6,
              col("o_totalprice")).otherwise(0.0).cast(dec))).as("d"))
        .where(col("d") =!= 0)
      val grp = diffs.groupBy(abs(col("d")).as("absd"))
        .agg(count(lit(1)).as("c"),
          sum(when(col("d") > 0, 1L).otherwise(0L)).as("p"))
        // feeds the rank kernel AND the join back
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cum = graft.ops.Ranks.globalCumWeight(
          grp, col("absd"), col("absd"), col("c"))
        .select(col("x").as("absd"), col("cumw").cast("long").as("cc"),
          col("totw").cast("long").as("n"))
      grp.join(cum, Seq("absd"))
        // group's doubled rank-sum for positives: p · (2·C − c + 1)
        .select(col("n"),
          (col("p") * (lit(2L) * col("cc") - col("c") + 1L)).as("w2g"))
        .groupBy(col("n"))
        .agg(sum(col("w2g")).as("w2_plus"))
        .select(col("n").as("n_pairs"), col("w2_plus"),
          round((col("w2_plus") - col("n") * (col("n") + 1L) / 2L)
              .cast("double") /
            sqrt((col("n") * (col("n") + 1L) * (lit(2L) * col("n") + 1L))
              .cast("double") / 6.0), 6).as("z"))
    }),
      """WITH d0 AS (
           SELECT o_custkey,
             SUM(CAST(CASE WHEN month(o_orderdate) <= 6 THEN o_totalprice
                 ELSE 0.0 END AS DECIMAL(30,10)))
             - SUM(CAST(CASE WHEN month(o_orderdate) > 6 THEN o_totalprice
                 ELSE 0.0 END AS DECIMAL(30,10))) AS d
           FROM orders GROUP BY 1),
         dd AS (SELECT d FROM d0 WHERE d <> 0),
         grp AS (SELECT abs(d) AS absd, CAST(count(*) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS p
           FROM dd GROUP BY 1),
         cum AS (SELECT absd, c, p, SUM(c) OVER (ORDER BY absd) AS cc,
             SUM(c) OVER () AS n FROM grp),
         st AS (SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(SUM(p * (2*cc - c + 1)) AS BIGINT) AS w2_plus FROM cum)
         SELECT n AS n_pairs, w2_plus,
           ROUND(CAST(w2_plus - n*(n+1)//2 AS DOUBLE)
             / sqrt(CAST(n*(n+1)*(2*n+1) AS DOUBLE) / CAST(6 AS DOUBLE)), 6)
             AS z
         FROM st"""),

    // ── Empirical-Bayes rate shrinkage (beta-binomial, MoM prior) ───────
    // Per-part return rate shrunk toward the corpus prior — the estimator
    // that stops a 3-of-4 part from outranking a 900-of-1200 one in any
    // rate leaderboard. Method-of-moments prior from the per-part rate
    // distribution: rates quantize DECIMAL(12,6) so their mean/variance
    // accumulate exactly in decimal; α+β = m(1−m)/v − 1 and the per-part
    // posterior mean (k+α)/(n+α+β) close in fixed IEEE chains rounded 6.
    // One keyed aggregate + the 1-row prior crossJoin — the q_mi scalar
    // pattern; nothing data-scale crosses the driver.
    Query("q_eb_shrinkage", ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returns"))
        .withColumn("rate",
          round(col("n_returns").cast("double") / col("n_items"), 6))
        // feeds the prior aggregate AND the scored output
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pri = li.agg(count(lit(1)).as("g"),
          sum(col("rate").cast("decimal(12,6)")).as("s1"),
          sum((col("rate").cast("decimal(12,6)")
            * col("rate").cast("decimal(12,6)"))).as("s2"))
      val m = col("s1").cast("double") / col("g")
      val v = (col("s2").cast("double")
        - col("s1").cast("double") * col("s1").cast("double") / col("g")) /
        (col("g") - 1L)
      val ab = m * (lit(1.0) - m) / v - lit(1.0)
      li.crossJoin(broadcast(pri)) // 1-row prior
        .select(col("l_partkey"), col("n_items"), col("n_returns"),
          col("rate").as("rate_raw"),
          round((col("n_returns") + m * ab) / (col("n_items") + ab), 6)
            .as("rate_eb"))
        .orderBy("l_partkey")
    }),
      """WITH li AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_items,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_returns
           FROM lineitem GROUP BY 1),
         lr AS (SELECT *, ROUND(CAST(n_returns AS DOUBLE) / n_items, 6)
             AS rate FROM li),
         pri AS (SELECT CAST(count(*) AS BIGINT) AS g,
             SUM(CAST(rate AS DECIMAL(12,6))) AS s1,
             SUM(CAST(rate AS DECIMAL(12,6)) * CAST(rate AS DECIMAL(12,6)))
               AS s2 FROM lr),
         pp AS (SELECT g, CAST(s1 AS DOUBLE)/g AS m,
             (CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/g) / (g - 1) AS v
           FROM pri),
         pr AS (SELECT m,
             m*(CAST(1 AS DOUBLE)-m)/v - CAST(1 AS DOUBLE) AS ab FROM pp)
         SELECT l_partkey, n_items, n_returns, rate AS rate_raw,
           ROUND((n_returns + m*ab) / (n_items + ab), 6) AS rate_eb
         FROM lr CROSS JOIN pr ORDER BY l_partkey"""),

    // ── Session-gap sensitivity sweep (the 30-min-timeout audit) ────────
    // How session counts move with the inactivity threshold — the table
    // that justifies (or indicts) the conventional 30-minute cut before
    // every session-scoped metric inherits it. ONE per-user ordered
    // window computes the inter-event gaps; all three thresholds read
    // from the same gap relation as conditional aggregates (sessions(g) =
    // users + gaps > g), so the sweep costs one pass regardless of
    // threshold count. Exact micros; doubles only at the events/session
    // edge.
    Query("q_session_gap_sweep", ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val us = expr("unix_micros(cast(ts as timestamp))")
      val gaps = Tables.events(s, dir)
        .select(col("user_id"),
          (us - lag(us, 1).over(w)).as("gap"))
      val agg = gaps.agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(when(col("gap") > 900000000L, 1L).otherwise(0L)).as("b900"),
        sum(when(col("gap") > 1800000000L, 1L).otherwise(0L)).as("b1800"),
        sum(when(col("gap") > 3600000000L, 1L).otherwise(0L)).as("b3600"))
      agg.select(explode(array(
          struct(lit(900).as("gap_s"), (col("n_users") + col("b900")).as("ns")),
          struct(lit(1800).as("gap_s"), (col("n_users") + col("b1800")).as("ns")),
          struct(lit(3600).as("gap_s"), (col("n_users") + col("b3600")).as("ns"))))
          .as("r"), col("n_events"))
        .select(col("r.gap_s").as("gap_s"), col("r.ns").as("n_sessions"),
          round(col("n_events").cast("double") / col("r.ns"), 6)
            .as("events_per_session"))
        .orderBy("gap_s")
    }),
      """WITH g AS (SELECT user_id,
            epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS gap
          FROM events),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
            CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
            CAST(SUM(CASE WHEN gap > 900000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS b900,
            CAST(SUM(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS b1800,
            CAST(SUM(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END)
              AS BIGINT) AS b3600
          FROM g)
         SELECT t.gap_s, t.ns AS n_sessions,
           ROUND(CAST(a.n_events AS DOUBLE) / t.ns, 6)
             AS events_per_session
         FROM a, LATERAL (VALUES (900, n_users + b900),
           (1800, n_users + b1800), (3600, n_users + b3600))
           AS t(gap_s, ns)
         ORDER BY t.gap_s"""),

    // ── Difference-in-differences (observational causal read) ───────────
    // The two-group pre/post estimator the experimentation tier lacks
    // when treatment wasn't randomized: treated = click events, control =
    // view events, split at the midpoint week (a 1-row aggregate both
    // engines derive identically); effect = (ΔT) − (ΔC) of per-cell value
    // means, SE = √Σ s²_g/n_g over the four cells (Welch-style), t =
    // effect/SE. Cell sums accumulate in DECIMAL (values and their
    // squares quantized by one deterministic double product), means and
    // variances close in fixed IEEE chains — one keyed aggregate over the
    // filtered events is all the data-scale work.
    Query("q_did", ((s, dir) => {
      val dec = "decimal(30,10)"
      val ev = Tables.events(s, dir)
        .where(col("event_type").isin("click", "view"))
        .select((col("event_type") === "click").as("treated"),
          col("value"),
          expr("unix_micros(cast(ts as timestamp)) div 604800000000")
            .as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sp = ev.agg(expr("(min(w) + max(w)) div 2").as("wmid"))
      val cells = ev.crossJoin(broadcast(sp)) // 1-row split week
        .groupBy(col("treated"), (col("w") > col("wmid")).as("post"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).as("s"),
          sum((col("value") * col("value")).cast(dec)).as("ss"))
      val m = col("s").cast("double") / col("n")
      val vOverN = ((col("ss").cast("double")
        - col("s").cast("double") * col("s").cast("double") / col("n"))
        / (col("n") - 1L)) / col("n")
      val g = cells.select(col("treated"), col("post"), m.as("m"),
        vOverN.as("vn"))
      val one = g.agg(
        max(when(col("treated") && col("post"), col("m"))).as("mtp"),
        max(when(col("treated") && !col("post"), col("m"))).as("mt0"),
        max(when(!col("treated") && col("post"), col("m"))).as("mcp"),
        max(when(!col("treated") && !col("post"), col("m"))).as("mc0"),
        max(when(col("treated") && col("post"), col("vn"))).as("vtp"),
        max(when(col("treated") && !col("post"), col("vn"))).as("vt0"),
        max(when(!col("treated") && col("post"), col("vn"))).as("vcp"),
        max(when(!col("treated") && !col("post"), col("vn"))).as("vc0"))
      val eff = (col("mtp") - col("mt0")) - (col("mcp") - col("mc0"))
      val se = sqrt(col("vtp") + col("vt0") + col("vcp") + col("vc0"))
      one.select(round(eff, 6).as("did_effect"), round(se, 6).as("se"),
        round(eff / se, 6).as("t_stat"))
    }),
      """WITH ev AS (SELECT (event_type = 'click') AS treated, value,
            epoch_us(ts) // 604800000000 AS w
          FROM events WHERE event_type IN ('click', 'view')),
         sp AS (SELECT (min(w) + max(w)) // 2 AS wmid FROM ev),
         cells AS (SELECT treated, (w > wmid) AS post,
             CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(30,10))) AS s,
             SUM(CAST(value * value AS DECIMAL(30,10))) AS ss
           FROM ev CROSS JOIN sp GROUP BY 1, 2),
         g AS (SELECT treated, post,
             CAST(s AS DOUBLE) / n AS m,
             ((CAST(ss AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)) / n
               AS vn
           FROM cells),
         one AS (SELECT
             max(CASE WHEN treated AND post THEN m END) AS mtp,
             max(CASE WHEN treated AND NOT post THEN m END) AS mt0,
             max(CASE WHEN NOT treated AND post THEN m END) AS mcp,
             max(CASE WHEN NOT treated AND NOT post THEN m END) AS mc0,
             max(CASE WHEN treated AND post THEN vn END) AS vtp,
             max(CASE WHEN treated AND NOT post THEN vn END) AS vt0,
             max(CASE WHEN NOT treated AND post THEN vn END) AS vcp,
             max(CASE WHEN NOT treated AND NOT post THEN vn END) AS vc0
           FROM g)
         SELECT ROUND((mtp - mt0) - (mcp - mc0), 6) AS did_effect,
           ROUND(sqrt(vtp + vt0 + vcp + vc0), 6) AS se,
           ROUND(((mtp - mt0) - (mcp - mc0))
             / sqrt(vtp + vt0 + vcp + vc0), 6) AS t_stat
         FROM one"""),

    // ── MASE: seasonal-naive forecast accuracy per event type ───────────
    // Is yesterday-same-hour a better predictor than last-hour — the
    // scale-free forecast-eval metric (MASE) over the gap-filled hourly
    // count series (the q_fano dense-span discipline): per type,
    // MAE(lag-24 forecast) / MAE(lag-1 naive), both over the SAME h ≥
    // h₀+24 horizon, from exact integer absolute-error sums. MASE < 1 ⇒
    // daily seasonality carries real signal for that type. Bounded-type
    // ordered windows over the dense series; one divide chain per row.
    Query("q_mase", ((s, dir) => {
      val perH = Tables.events(s, dir)
        .select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000")
            .as("h"))
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val span = perH.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val dense = perH.select(col("event_type")).distinct()
        .crossJoin(broadcast(span)) // 1-row span
        .select(col("event_type"), col("h0"),
          explode(sequence(col("h0"), col("h1"))).as("h"))
        .join(perH, Seq("event_type", "h"), "left")
        .na.fill(0L, Seq("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val horizon = col("h") >= col("h0") + 24L
      val agg = dense
        .select(col("event_type"), col("h"), col("h0"), col("c"),
          lag(col("c"), 1).over(w).as("c1"),
          lag(col("c"), 24).over(w).as("c24"))
        .groupBy(col("event_type"))
        .agg(sum(when(horizon, abs(col("c") - col("c1")))).as("sae1"),
          sum(when(horizon, abs(col("c") - col("c24")))).as("sae24"),
          sum(when(horizon, 1L)).as("nh"))
      agg.select(col("event_type"), col("nh").as("n_hours"),
          round(col("sae1").cast("double") / col("nh"), 6).as("mae_naive"),
          round(col("sae24").cast("double") / col("nh"), 6)
            .as("mae_seasonal"),
          round(col("sae24").cast("double") / col("sae1").cast("double"), 6)
            .as("mase"))
        .orderBy("event_type")
    }),
      """WITH perh AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
            CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
         span AS (SELECT min(h) AS h0, max(h) AS h1 FROM perh),
         dense AS (SELECT t.event_type, s.h0, g.h, COALESCE(p.c, 0) AS c
           FROM (SELECT DISTINCT event_type FROM perh) t
           CROSS JOIN span s
           CROSS JOIN (SELECT unnest(generate_series(
             (SELECT h0 FROM span), (SELECT h1 FROM span))) AS h) g
           LEFT JOIN perh p ON p.event_type = t.event_type AND p.h = g.h),
         e AS (SELECT event_type, h, h0, c,
             lag(c, 1) OVER (PARTITION BY event_type ORDER BY h) AS c1,
             lag(c, 24) OVER (PARTITION BY event_type ORDER BY h) AS c24
           FROM dense),
         a AS (SELECT event_type,
             CAST(SUM(CASE WHEN h >= h0 + 24 THEN abs(c - c1) END)
               AS BIGINT) AS sae1,
             CAST(SUM(CASE WHEN h >= h0 + 24 THEN abs(c - c24) END)
               AS BIGINT) AS sae24,
             CAST(SUM(CASE WHEN h >= h0 + 24 THEN 1 END) AS BIGINT) AS nh
           FROM e GROUP BY 1)
         SELECT event_type, nh AS n_hours,
           ROUND(CAST(sae1 AS DOUBLE) / nh, 6) AS mae_naive,
           ROUND(CAST(sae24 AS DOUBLE) / nh, 6) AS mae_seasonal,
           ROUND(CAST(sae24 AS DOUBLE) / CAST(sae1 AS DOUBLE), 6) AS mase
         FROM a ORDER BY event_type"""),

    // ── Theil–Sen robust trend of monthly revenue ───────────────────────
    // The median-of-pairwise-slopes trend estimator — immune to the
    // outlier months that pull OLS (q_regression/q_ols2) around. The
    // series is the ≤|months| aggregated revenue relation (decimal-exact
    // per month), so the all-pairs slope relation is |months|²-bounded —
    // a BOUNDED inequality self-join, never corpus-scale; the median
    // closes via percentile (↔ quantile_cont, the q_percentiles
    // portability result). Slopes are one fixed IEEE chain each
    // (decimal diffs cast double, divided once).
    Query("q_theil_sen", ((s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy(expr("unix_micros(cast(o_orderdate as timestamp))" +
          " div 2629800000000").as("m")) // 30.4375-day civil months
        .agg(sum(col("o_totalprice").cast("decimal(30,10)")).as("rev"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = m.as("a").join(m.as("b"), col("a.m") < col("b.m"))
        .select((((col("b.rev") - col("a.rev")).cast("double"))
          / (col("b.m") - col("a.m")).cast("double")).as("slope"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          round(expr("percentile(slope, 0.5)"), 6).as("med_slope"))
        .crossJoin(broadcast(m.agg(count(lit(1)).as("n_months"))))
        .select(col("n_months"), col("n_pairs"), col("med_slope"))
    }),
      """WITH m AS (SELECT epoch_us(o_orderdate) // 2629800000000 AS m,
            SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS rev
          FROM orders GROUP BY 1),
         p AS (SELECT CAST(b.rev - a.rev AS DOUBLE)
             / CAST(b.m - a.m AS DOUBLE) AS slope
           FROM m a JOIN m b ON a.m < b.m),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           ROUND(quantile_cont(slope, 0.5), 6) AS med_slope FROM p),
         nm AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM m)
         SELECT n_months, n_pairs, med_slope FROM ag CROSS JOIN nm"""),

    // ── Mann–Kendall trend test on the same monthly series ──────────────
    // The nonparametric trend TEST next to q_theil_sen's estimate:
    // S = Σ_{i<j} sign(rev_j − rev_i) over the bounded month pairs (exact
    // integer; decimal compares), Var(S) = n(n−1)(2n+5)/18 (no-tie form —
    // monthly revenue sums are decimal-distinct), and the
    // continuity-corrected z in one piecewise IEEE chain. Positive z =
    // monotone growth at the chosen confidence; the seasonality-robust
    // health check a revenue dashboard runs before claiming a trend.
    Query("q_mk_trend", ((s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy(expr("unix_micros(cast(o_orderdate as timestamp))" +
          " div 2629800000000").as("m"))
        .agg(sum(col("o_totalprice").cast("decimal(30,10)")).as("rev"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val st = m.as("a").join(m.as("b"), col("a.m") < col("b.m"))
        .select(when(col("b.rev") > col("a.rev"), 1L)
          .when(col("b.rev") < col("a.rev"), -1L).otherwise(0L).as("sg"))
        .agg(sum(col("sg")).as("s"))
      val nRel = m.agg(count(lit(1)).as("n"))
      val varS = (col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L))
        .cast("double") / 18.0
      st.crossJoin(broadcast(nRel))
        .select(col("n").as("n_months"), col("s"),
          round(when(col("s") > 0,
              (col("s") - 1L).cast("double") / sqrt(varS))
            .when(col("s") < 0,
              (col("s") + 1L).cast("double") / sqrt(varS))
            .otherwise(lit(0.0)), 6).as("z"))
    }),
      """WITH m AS (SELECT epoch_us(o_orderdate) // 2629800000000 AS m,
            SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS rev
          FROM orders GROUP BY 1),
         st AS (SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
             WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s
           FROM m a JOIN m b ON a.m < b.m),
         nm AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m)
         SELECT n AS n_months, s,
           ROUND(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
               / sqrt(CAST(n*(n-1)*(2*n+5) AS DOUBLE) / CAST(18 AS DOUBLE))
             WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
               / sqrt(CAST(n*(n-1)*(2*n+5) AS DOUBLE) / CAST(18 AS DOUBLE))
             ELSE CAST(0 AS DOUBLE) END, 6) AS z
         FROM st CROSS JOIN nm"""),

    // ── Window: ntile quartiles per segment ─────────────────────────────
    // The bucket-assignment window (ntile) closing the ranking-family
    // surface: customers quartiled by balance within their market
    // segment (total order via the custkey tiebreak — ntile's extra-row
    // placement is deterministic only under one), then rolled up to the
    // (segment, quartile) design table with the decimal-exact mean.
    Query("q_window_ntile", ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
      t(s, dir, "customer")
        .withColumn("quartile", ntile(4).over(w))
        .groupBy(col("c_mktsegment"), col("quartile"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(28,10)")).cast("double")
            / count(lit(1)), 6).as("avg_bal"))
        .orderBy("c_mktsegment", "quartile")
    }),
      """WITH q AS (SELECT c_mktsegment, c_acctbal,
            ntile(4) OVER (PARTITION BY c_mktsegment
              ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
          FROM customer)
         SELECT c_mktsegment, quartile, CAST(count(*) AS BIGINT) AS n_cust,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE)
             / count(*), 6) AS avg_bal
         FROM q GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ── Per-brand discount elasticity (grouped closed-form OLS) ─────────
    // q_ols2 fits ONE global regression; this is the grouped sibling —
    // the per-brand slope of quantity on discount, the price-response
    // table a promo design reads. x/y quantize DECIMAL(12,6)/(12,2) so
    // the four moment sums per brand accumulate exactly; slope =
    // (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) and the intercept close in fixed IEEE
    // chains rounded 6. One keyed part join (brand is part-side metadata)
    // + one keyed aggregate — the scan cost IS the query.
    Query("q_price_elasticity", ((s, dir) => {
      val x = col("l_discount").cast("decimal(12,6)")
      val y = col("l_quantity").cast("decimal(12,2)")
      val g = t(s, dir, "lineitem")
        .join(t(s, dir, "part").select(col("p_partkey").as("l_partkey"),
          col("p_brand")), Seq("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum((x * y).cast("decimal(28,10)")).as("sxy"),
          sum((x * x).cast("decimal(28,10)")).as("sxx"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      val den = (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      g.select(col("p_brand"), col("n"),
          round(num / den, 6).as("slope"),
          round((col("sy").cast("double")
            - (num / den) * col("sx").cast("double")) / col("n"), 6)
            .as("intercept"))
        .orderBy("p_brand")
    }),
      """WITH g AS (SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n,
            SUM(CAST(l_discount AS DECIMAL(12,6))) AS sx,
            SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sy,
            SUM(CAST(CAST(l_discount AS DECIMAL(12,6))
              * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(28,10)))
              AS sxy,
            SUM(CAST(CAST(l_discount AS DECIMAL(12,6))
              * CAST(l_discount AS DECIMAL(12,6)) AS DECIMAL(28,10)))
              AS sxx
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          GROUP BY 1)
         SELECT p_brand, n,
           ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
             / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
             - (CAST(n*sxy - sx*sy AS DOUBLE)
                / CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / n, 6) AS intercept
         FROM g ORDER BY p_brand"""),

    // ── Hill tail-index estimator (how heavy is the heavy tail) ─────────
    // The power-law exponent of customer revenue from the top-k order
    // statistics: α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) (Hill 1975, the standard
    // tail estimator; complements q_zipf_fit's rank-frequency view).
    // α ≤ 2 means infinite variance — the regime where mean-based
    // dashboards and uniform samplers break. The top-(k+1) cut is a
    // TakeOrdered (k-row, no global sort); the reference quantile rides
    // a 1-row crossJoin; ln terms quantize DECIMAL(30,10) before the sum.
    Query("q_hill_tail", ((s, dir) => {
      val k = 100
      val top = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(28,10)")).cast("double")
          .as("x"))
        .orderBy(desc("x"), col("o_custkey")).limit(k + 1)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val W1 = Window.partitionBy(pmod(col("o_custkey"), lit(1L)))
        .orderBy(desc("x"), col("o_custkey"))
      val ranked = top.select(col("x"),
        row_number().over(W1).as("rn")) // 101-row relation: tiny window
      val ref = ranked.where(col("rn") === k + 1)
        .select(col("x").as("xref"))
      ranked.where(col("rn") <= k)
        .crossJoin(broadcast(ref)) // 1-row reference quantile
        .select(log(col("x") / col("xref")).cast("decimal(30,10)")
          .as("term"), col("xref"))
        .groupBy(col("xref"))
        .agg(count(lit(1)).as("k"),
          sum(col("term")).cast("double").as("s"))
        .select(col("k"),
          round(col("xref"), 4).as("x_kplus1"),
          round(col("k").cast("double") / col("s"), 6).as("hill_alpha"))
    }),
      """WITH cust AS (
           SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE) AS x
           FROM orders GROUP BY 1),
         top AS (
           SELECT o_custkey, x FROM cust
           ORDER BY x DESC, o_custkey LIMIT 101),
         ranked AS (
           SELECT x, row_number() OVER (ORDER BY x DESC, o_custkey) AS rn
           FROM top),
         ref AS (SELECT x AS xref FROM ranked WHERE rn = 101),
         s AS (
           SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(SUM(CAST(ln(x / xref) AS DECIMAL(30,10))) AS DOUBLE)
               AS s,
             xref
           FROM ranked, ref WHERE rn <= 100 GROUP BY xref)
         SELECT k, ROUND(xref, 4) AS x_kplus1,
           ROUND(CAST(k AS DOUBLE) / s, 6) AS hill_alpha
         FROM s"""),

    // ── Conditional transition entropy (how predictable is behavior) ────
    // H(next event type | current) over per-user event bigrams, next to
    // the marginal H(next): the gap is the information the current state
    // carries — the sequence-predictability read on top of
    // q_markov_chain's raw matrix. Transitions from one user-keyed lead()
    // window; cells are ≤ types² rows; per-cell −(c/N)·ln(c/tot) terms
    // quantize DECIMAL(30,10); totals ride 1-row crossJoins.
    Query("q_transition_entropy", ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val cells = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        .select(col("event_type").as("cur"),
          lead(col("event_type"), 1).over(w).as("nxt"))
        .where(col("nxt").isNotNull)
        .groupBy(col("cur"), col("nxt"))
        .agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val curTot = cells.groupBy(col("cur")).agg(sum(col("c")).as("tc"))
      val nxtTot = cells.groupBy(col("nxt")).agg(sum(col("c")).as("tn"))
      val tot = cells.agg(sum(col("c")).as("n"))
      val hCond = cells.join(broadcast(curTot), Seq("cur"))
        .crossJoin(broadcast(tot))
        .select((lit(0.0) - col("c").cast("double") / col("n")
          * log(col("c").cast("double") / col("tc")))
          .cast("decimal(30,10)").as("term"))
        .agg(sum(col("term")).cast("double").as("h_cond"))
      val hMarg = nxtTot.crossJoin(broadcast(tot))
        .select((lit(0.0) - col("tn").cast("double") / col("n")
          * log(col("tn").cast("double") / col("n")))
          .cast("decimal(30,10)").as("term"))
        .agg(sum(col("term")).cast("double").as("h_marg"))
      tot.crossJoin(broadcast(hCond)).crossJoin(broadcast(hMarg))
        .select(col("n").as("n_transitions"),
          round(col("h_cond"), 6).as("h_cond"),
          round(col("h_marg"), 6).as("h_marg"),
          round(col("h_marg") - col("h_cond"), 6).as("info_gain"))
    }),
      """WITH e AS (
           SELECT user_id, event_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us
           FROM events),
         p AS (
           SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id) AS nxt
           FROM e),
         cells AS (
           SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c
           FROM p WHERE nxt IS NOT NULL GROUP BY 1, 2),
         ct AS (SELECT cur, CAST(SUM(c) AS BIGINT) AS tc
                FROM cells GROUP BY 1),
         nt AS (SELECT nxt, CAST(SUM(c) AS BIGINT) AS tn
                FROM cells GROUP BY 1),
         tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
         hc AS (
           SELECT CAST(SUM(CAST(0.0 - CAST(c AS DOUBLE) / n
               * ln(CAST(c AS DOUBLE) / tc) AS DECIMAL(30,10))) AS DOUBLE)
             AS h_cond
           FROM cells JOIN ct USING (cur) CROSS JOIN tot),
         hm AS (
           SELECT CAST(SUM(CAST(0.0 - CAST(tn AS DOUBLE) / n
               * ln(CAST(tn AS DOUBLE) / n) AS DECIMAL(30,10))) AS DOUBLE)
             AS h_marg
           FROM nt CROSS JOIN tot)
         SELECT n AS n_transitions, ROUND(h_cond, 6) AS h_cond,
           ROUND(h_marg, 6) AS h_marg,
           ROUND(h_marg - h_cond, 6) AS info_gain
         FROM tot, hc, hm"""),

    // ── Gaps-and-islands: consecutive-active-day streaks ────────────────
    // The classic islands pattern (and the engagement metric behind
    // "current streak" features): per user, maximal runs of consecutive
    // active days via the day − row_number() island key — constant within
    // a run, strictly decreasing across a gap — then the corpus-wide
    // streak-length histogram. Day indices are exact epoch-day int64;
    // the only window is user-keyed; output is ≤ max-streak rows.
    Query("q_streaks", ((s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("d"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
      val runs = days
        .select(col("user_id"), col("d"),
          (col("d") - row_number().over(w)).as("isl"))
        .groupBy(col("user_id"), col("isl"))
        .agg(count(lit(1)).as("len"))
      runs.groupBy(col("len"))
        .agg(count(lit(1)).as("n_streaks"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy("len")
    }),
      """WITH days AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
           FROM events),
         runs AS (
           SELECT user_id, d - row_number() OVER (PARTITION BY user_id
             ORDER BY d) AS isl
           FROM days),
         lens AS (
           SELECT user_id, isl, CAST(count(*) AS BIGINT) AS len
           FROM runs GROUP BY 1, 2)
         SELECT len, CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM lens GROUP BY len ORDER BY len"""),

    // ── Calendar-aligned growth (MoM / YoY) ─────────────────────────────
    // The report every revenue dashboard opens with: monthly revenue next
    // to month-over-month and year-over-year percent change. Months key
    // as a single integer index (y·12 + m − 1), and both comparisons are
    // KEYED self-joins on mix−1 / mix−12 — no global window, no gapless
    // assumption (a missing month simply yields no comparison row), and
    // the month relation is aggregate-scale, so the joins broadcast at
    // any corpus size. Revenue sums decimal-exact; the pct chains are one
    // double expression from the exact sums, rounded at the edge.
    Query("q_yoy", ((s, dir) => {
      val m = tn(s, dir, "orders")
        .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
          - 1).as("mix"))
        .agg(sum(col("o_totalprice").cast("decimal(28,10)")).as("rev_dec"))
      val prev = m.select((col("mix") + 1).as("mix"),
        col("rev_dec").as("prev_dec"))
      val yr = m.select((col("mix") + 12).as("mix"),
        col("rev_dec").as("yr_dec"))
      m.join(prev, Seq("mix")).join(yr, Seq("mix"))
        .select(expr("mix div 12").cast("int").as("o_year"),
          (pmod(col("mix"), lit(12)) + 1).cast("int").as("o_month"),
          round(col("rev_dec").cast("double"), 4).as("revenue"),
          round((col("rev_dec").cast("double")
            / col("prev_dec").cast("double") - 1) * 100, 4).as("mom_pct"),
          round((col("rev_dec").cast("double")
            / col("yr_dec").cast("double") - 1) * 100, 4).as("yoy_pct"),
          col("mix"))
        .orderBy("mix")
        .drop("mix")
    }),
      """WITH m AS (
           SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mix,
             sum(CAST(o_totalprice AS DECIMAL(28,10))) AS rev
           FROM orders GROUP BY 1)
         SELECT CAST(c.mix // 12 AS INT) AS o_year,
           CAST(c.mix % 12 + 1 AS INT) AS o_month,
           ROUND(CAST(c.rev AS DOUBLE), 4) AS revenue,
           ROUND((CAST(c.rev AS DOUBLE) / CAST(p.rev AS DOUBLE) - 1) * 100,
             4) AS mom_pct,
           ROUND((CAST(c.rev AS DOUBLE) / CAST(y.rev AS DOUBLE) - 1) * 100,
             4) AS yoy_pct
         FROM m c
         JOIN m p ON c.mix = p.mix + 1
         JOIN m y ON c.mix = y.mix + 12
         ORDER BY c.mix"""),

    // ── SCD2 history build (validity intervals from an event stream) ────
    // The warehouse dimension-history derivation: per user, collapse the
    // event stream into state-CHANGE rows (event_type ≠ previous) and give
    // each its validity interval [valid_from, valid_to) via lead over the
    // change relation; the open row (valid_to NULL) is current. Two
    // windows over the same (ts, event_id)-pinned per-user order — one
    // exchange on user_id. Bounded to user_id < 20 for the gate output.
    Query("q_scd2", ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val changes = Tables.events(s, dir).where(col("user_id") < 20)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .where(col("prev").isNull || col("prev") =!= col("event_type"))
      changes
        .withColumn("valid_to_raw", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").cast("timestamp_ntz").as("valid_from"),
          col("valid_to_raw").cast("timestamp_ntz").as("valid_to"),
          col("valid_to_raw").isNull.as("is_current"))
        .orderBy("user_id", "valid_from")
    }),
      """WITH c AS (
           SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
           FROM events WHERE user_id < 20),
         ch AS (
           SELECT user_id, ts, event_id, event_type FROM c
           WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) IS NULL AS is_current
         FROM ch ORDER BY user_id, valid_from"""),

    // ── Incremental view maintenance: merge(agg(old), agg(new)) ─────────
    // The day-partitioned rollup identity (Ivm.mergeAggregates): aggregate
    // days < Jan 15 and the rest SEPARATELY, merge the partials — the
    // oracle computes the DIRECT full aggregate, so the gate is the
    // cross-engine proof the incremental path answers exactly the batch
    // question. Sums ride as decimals (additive-exact), min/max combine.
    Query("q_ivm_merge", ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"),
        col("value"))
      def partial(df: DataFrame) = df.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(28,10)")).as("sum_dec"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      val cut = lit("2024-01-15").cast("timestamp_ntz")
      val merged = graft.ops.Ivm.mergeAggregates(
        partial(ev.where(col("day") < cut)),
        partial(ev.where(col("day") >= cut)),
        keys = Seq("event_type", "day"), cntCol = "cnt",
        sumCols = Seq("sum_dec"), minCols = Seq("min_v"),
        maxCols = Seq("max_v"))
      merged.select(col("event_type"), col("day"), col("cnt"),
          round(col("sum_dec").cast("double"), 4).as("sum_value"),
          col("min_v"), col("max_v"))
        .orderBy("event_type", "day")
    }),
      // the DIRECT full aggregate — merged partials must equal it exactly
      """SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(*) AS cnt,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4)
             AS sum_value,
           min(value) AS min_v, max(value) AS max_v
         FROM events GROUP BY 1, 2 ORDER BY event_type, day"""),

    // ── Hourly event-volume anomalies (ops-monitoring member) ───────────
    // Per event type, each hour's count robust-z-scored against the
    // type's median/MAD (q_outliers' portable percentile pair, applied to
    // a time series) — the "did ingestion hiccup at 3am" table. Hourly
    // counts are a group-count relation; everything after runs on it.
    Query("q_events_anomaly", ((s, dir) => {
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"))
        .agg(count(lit(1)).cast("long").as("n"))
      graft.ops.CorpusStats.robustZScores(hourly, "hour", "event_type",
          col("n"))
        .select(col("id").as("hour"), col("grp").as("event_type"),
          col("x").cast("long").as("n_events"), col("med"), col("mad"),
          col("z"), col("is_outlier"))
        .orderBy("event_type", "hour")
    }),
      // the q_outliers median/MAD mirror over per-type hourly counts
      """WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
              CAST(count(*) AS DOUBLE) AS x
            FROM events GROUP BY 1, 2),
          med AS (
            SELECT event_type, ROUND(quantile_cont(x, 0.5), 6) AS med
            FROM hourly GROUP BY 1),
          dev AS (
            SELECT h.event_type, h.hour, h.x, m.med,
              ABS(h.x - m.med) AS adev
            FROM hourly h JOIN med m USING (event_type)),
          mad AS (
            SELECT event_type, ROUND(quantile_cont(adev, 0.5), 6) AS mad
            FROM dev GROUP BY 1),
          z AS (
            SELECT d.hour, d.event_type, d.x, d.med, m.mad,
              CASE WHEN m.mad = 0 THEN NULL
                   ELSE ROUND((d.x - d.med) / (1.4826 * m.mad), 6)
              END AS z
            FROM dev d JOIN mad m USING (event_type))
          SELECT hour, event_type, CAST(x AS BIGINT) AS n_events, med, mad,
            z, COALESCE(ABS(z) > 3, FALSE) AS is_outlier
          FROM z ORDER BY event_type, hour"""),
    // ── Time-weighted average value (TWAP) per event type ───────────────
    // The temporal mean that matters when observations mark STATE CHANGES
    // rather than samples: each event's value holds until the user's next
    // event, so it weighs by its holding duration — the financial TWAP /
    // time-weighted balance read. Durations are exact epoch-micros int64
    // from one keyed per-user lead() window (ts, event_id tie-pin); each
    // user's last event has no successor and drops out (no duration to
    // weigh). value·dt is one double product per row quantized
    // DECIMAL(30,6) so the sums are shuffle-order-exact. One window + one
    // aggregate; at 100 TB the user-keyed window is the only data-scale
    // exchange.
    Query("q_twap", ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val dec = "decimal(30,6)"
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
        .select(col("event_type"), col("value"),
          (lead(col("ts_us"), 1).over(w) - col("ts_us")).as("dt_us"))
        .where(col("dt_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dt_us")).as("dur_us"),
          sum((col("value") * col("dt_us").cast("double")).cast(dec))
            .cast("double").as("sw"))
        .select(col("event_type"), col("n_intervals"), col("dur_us"),
          round(col("sw") / col("dur_us").cast("double"), 6).as("twap"),
          round(col("sw") / lit(1000000.0), 4).as("value_seconds"))
        .orderBy("event_type")
    }),
      """WITH e AS (
           SELECT user_id, event_id, event_type, value,
             epoch_us(ts) AS ts_us
           FROM events),
         d AS (
           SELECT event_type, value,
             lead(ts_us) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id) - ts_us AS dt_us
           FROM e)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt_us) AS BIGINT) AS dur_us,
           ROUND(CAST(SUM(CAST(value * CAST(dt_us AS DOUBLE)
                 AS DECIMAL(30,6))) AS DOUBLE)
             / CAST(SUM(dt_us) AS DOUBLE), 6) AS twap,
           ROUND(CAST(SUM(CAST(value * CAST(dt_us AS DOUBLE)
                 AS DECIMAL(30,6))) AS DOUBLE) / 1000000.0, 4)
             AS value_seconds
         FROM d WHERE dt_us IS NOT NULL
         GROUP BY 1 ORDER BY event_type"""),

    // Batch session windows (gap 10 min) — DuckDB has no session_window, so
    // the oracle derives sessions relationally (lag → new-session flag →
    // running sum as session id), which also documents the semantics:
    // a gap ≥ the timeout starts a new session; window end = last ts + gap.
    Query("q_sessions", ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "10 minutes").as("s"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("s.start").cast("timestamp_ntz").as("session_start"),
          col("s.end").cast("timestamp_ntz").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")),
      """WITH x AS (
           SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (
           SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
           FROM x)
         SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 10 MINUTE AS session_end,
           count(*) AS n_events
         FROM y GROUP BY user_id, sid
         ORDER BY user_id, session_start"""),

    // ── Interval-overlap join: sessions × error-burst windows ───────────
    // The third temporal-join family member (IntervalJoin.overlapJoin,
    // binned equi-join + max-start bucket ownership — never a cartesian):
    // which user sessions ran during an error burst (hours with ≥ 7 error
    // events). Sessions from the q_sessions 10-min gap relation; both
    // interval sides are real derived relations, Catalyst broadcasts the
    // small one by size. overlap_secs is the exact micros/1e6 division —
    // identical IEEE op in both engines, no rounding needed.
    Query("q_interval_join", ((s, dir) => {
      val ev = Tables.events(s, dir)
      val sess = ev
        .groupBy(session_window(col("ts"), "10 minutes").as("s"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("s.start").as("session_start"),
          col("s.end").as("session_end"))
      val bursts = ev.where(col("event_type") === "error")
        .groupBy(date_trunc("hour", col("ts")).as("w_start"))
        .agg(count(lit(1)).as("n_errors"))
        .where(col("n_errors") >= 7)
        .select(col("w_start"),
          (col("w_start") + expr("INTERVAL 1 HOUR")).as("w_end"), col("n_errors"))
      graft.ops.IntervalJoin.overlapJoin(sess, bursts,
          "session_start", "session_end", "w_start", "w_end", binSeconds = 3600)
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_end").cast("timestamp_ntz").as("session_end"),
          col("w_start").cast("timestamp_ntz").as("w_start"),
          col("n_errors"), col("overlap_secs"))
        .orderBy("user_id", "session_start", "w_start")
    }),
      // Sessions CTE shared verbatim with q_sessions (the gate that proves
      // the relational derivation equals session_window); the overlap join
      // itself is the plain range predicate — the engine's binning is an
      // execution strategy, not a semantic.
      """WITH x AS (
           SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (
           SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
           FROM x),
         sess AS (
           SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 10 MINUTE AS session_end
           FROM y GROUP BY user_id, sid),
         bursts AS (
           SELECT date_trunc('hour', ts) AS w_start,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
             count(*) AS n_errors
           FROM events WHERE event_type = 'error'
           GROUP BY 1 HAVING count(*) >= 7)
         SELECT s.user_id, s.session_start, s.session_end, b.w_start,
           b.n_errors,
           (epoch_us(least(s.session_end, b.w_end))
            - epoch_us(greatest(s.session_start, b.w_start))) / 1000000.0
             AS overlap_secs
         FROM sess s JOIN bursts b
           ON s.session_start < b.w_end AND b.w_start < s.session_end
         ORDER BY s.user_id, s.session_start, b.w_start"""),

    // ── Per-user burst coverage (interval-algebra rollup) ───────────────
    // The aggregation half of the interval family: what fraction of each
    // user's session TIME fell inside error-burst windows — exact micros
    // arithmetic end to end (longs sum exactly; seconds appear only at
    // the output edge), overlap segments disjoint because burst windows
    // are disjoint hours. Sessions relation persisted: the coverage and
    // total legs both read it.
    Query("q_burst_coverage", ((s, dir) => {
      val ev = Tables.events(s, dir)
      val sess = ev
        .groupBy(session_window(col("ts"), "10 minutes").as("s"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("s.start").as("session_start"),
          col("s.end").as("session_end"))
        .persist()
      val bursts = ev.where(col("event_type") === "error")
        .groupBy(date_trunc("hour", col("ts")).as("w_start"))
        .agg(count(lit(1)).as("n_errors"))
        .where(col("n_errors") >= 7)
        .select(col("w_start"),
          (col("w_start") + expr("INTERVAL 1 HOUR")).as("w_end"))
      def us(c: org.apache.spark.sql.Column) = unix_micros(c.cast("timestamp"))
      val ov = graft.ops.IntervalJoin.overlapJoin(sess, bursts,
          "session_start", "session_end", "w_start", "w_end", binSeconds = 3600)
        .select(col("user_id"),
          (us(least(col("session_end"), col("w_end")))
            - us(greatest(col("session_start"), col("w_start")))).as("ov_us"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_overlaps"), sum(col("ov_us")).as("ov_us"))
      val tot = sess.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(us(col("session_end")) - us(col("session_start"))).as("sess_us"))
      tot.join(ov, Seq("user_id"), "left")
        .select(col("user_id"), col("n_sessions"),
          coalesce(col("n_overlaps"), lit(0L)).as("n_overlaps"),
          round(col("sess_us").cast("double") / 1000000.0, 6).as("sess_secs"),
          round(coalesce(col("ov_us"), lit(0L)).cast("double") / 1000000.0, 6)
            .as("ov_secs"),
          round(coalesce(col("ov_us"), lit(0L)).cast("double")
            / col("sess_us"), 6).as("coverage"))
        .orderBy("user_id")
    }),
      // sessions CTE shared with q_sessions/q_interval_join; exact micros
      // (epoch_us) throughout, seconds only at the output edge.
      """WITH x AS (
           SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (
           SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
           FROM x),
         sess AS (
           SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 10 MINUTE AS session_end
           FROM y GROUP BY user_id, sid),
         bursts AS (
           SELECT date_trunc('hour', ts) AS w_start,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end
           FROM events WHERE event_type = 'error'
           GROUP BY 1 HAVING count(*) >= 7),
         ov AS (
           SELECT s.user_id,
             epoch_us(least(s.session_end, b.w_end))
               - epoch_us(greatest(s.session_start, b.w_start)) AS ov_us
           FROM sess s JOIN bursts b
             ON s.session_start < b.w_end AND b.w_start < s.session_end),
         ovu AS (
           SELECT user_id, count(*) AS n_overlaps,
             CAST(sum(ov_us) AS BIGINT) AS ov_us
           FROM ov GROUP BY 1),
         tot AS (
           SELECT user_id, count(*) AS n_sessions,
             CAST(sum(epoch_us(session_end) - epoch_us(session_start))
               AS BIGINT) AS sess_us
           FROM sess GROUP BY 1)
         SELECT t.user_id, t.n_sessions,
           COALESCE(o.n_overlaps, 0) AS n_overlaps,
           ROUND(CAST(t.sess_us AS DOUBLE) / 1000000.0, 6) AS sess_secs,
           ROUND(CAST(COALESCE(o.ov_us, 0) AS DOUBLE) / 1000000.0, 6)
             AS ov_secs,
           ROUND(CAST(COALESCE(o.ov_us, 0) AS DOUBLE) / t.sess_us, 6)
             AS coverage
         FROM tot t LEFT JOIN ovu o USING (user_id)
         ORDER BY user_id"""),

    // ── Ordered funnel: signup → first later click → first later purchase
    // Per-user staged conversion — the event-sequencing query a product
    // warehouse runs constantly. Two conditional-min aggregations chained
    // through left joins (each stage's timestamp must be strictly after
    // the previous stage's); stage = how far the user got (1–3).
    Query("q_funnel", ((s, dir) => {
      val ev = Tables.events(s, dir)
      val su = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"))
      val c = su.join(clicks, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("signup_ts"))
        .agg(min(when(col("cts") > col("signup_ts"), col("cts"))).as("click_ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"))
      c.join(purchases, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("signup_ts"), col("click_ts"))
        .agg(min(when(col("pts") > col("click_ts"), col("pts"))).as("purchase_ts"))
        .select(col("user_id"), col("signup_ts"), col("click_ts"),
          col("purchase_ts"),
          (lit(1) + when(col("click_ts").isNotNull, 1).otherwise(0)
            + when(col("purchase_ts").isNotNull, 1).otherwise(0)).as("stage"))
        .orderBy("user_id")
    }),
      """WITH su AS (
           SELECT user_id, min(ts) AS signup_ts FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         c AS (
           SELECT su.user_id, su.signup_ts,
             min(CASE WHEN e.ts > su.signup_ts THEN e.ts END) AS click_ts
           FROM su LEFT JOIN events e
             ON e.user_id = su.user_id AND e.event_type = 'click'
           GROUP BY 1, 2),
         p AS (
           SELECT c.user_id, c.signup_ts, c.click_ts,
             min(CASE WHEN e.ts > c.click_ts THEN e.ts END) AS purchase_ts
           FROM c LEFT JOIN events e
             ON e.user_id = c.user_id AND e.event_type = 'purchase'
           GROUP BY 1, 2, 3)
         SELECT user_id, signup_ts, click_ts, purchase_ts,
           1 + CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END
             + CASE WHEN purchase_ts IS NOT NULL THEN 1 ELSE 0 END AS stage
         FROM p ORDER BY user_id"""),

    // ── DAU/WAU stickiness (product-analytics staple) ───────────────────
    // Per calendar week: weekly actives, average daily actives, and the
    // DAU/WAU stickiness ratio. Daily/weekly distincts are two keyed
    // aggregates; the weekly average runs over the ≤7-row day counts.
    Query("q_dau_wau", ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        date_trunc("week", col("ts")).cast("timestamp_ntz").as("week"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"),
        col("user_id"))
      val dau = ev.groupBy(col("week"), col("day"))
        .agg(count_distinct(col("user_id")).as("dau"))
      val wau = ev.groupBy(col("week"))
        .agg(count_distinct(col("user_id")).as("wau"))
      dau.groupBy(col("week"))
        .agg(count(lit(1)).as("n_days"),
          round(sum(col("dau").cast("decimal(28,10)")).cast("double")
            / count(lit(1)), 6).as("avg_dau"))
        .join(wau, Seq("week"))
        .withColumn("stickiness",
          round(col("avg_dau") / col("wau"), 6))
        .select(col("week"), col("n_days"), col("avg_dau"), col("wau"),
          col("stickiness"))
        .orderBy("week")
    }),
      """WITH e AS (
           SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
           FROM events),
         dau AS (
           SELECT week, day, count(DISTINCT user_id) AS dau
           FROM e GROUP BY 1, 2),
         wau AS (
           SELECT week, count(DISTINCT user_id) AS wau
           FROM e GROUP BY 1),
         wk AS (
           SELECT week, count(*) AS n_days,
             ROUND(CAST(SUM(CAST(dau AS DECIMAL(28,10))) AS DOUBLE)
               / count(*), 6) AS avg_dau
           FROM dau GROUP BY 1)
         SELECT wk.week, wk.n_days, wk.avg_dau, wau.wau,
           ROUND(wk.avg_dau / wau.wau, 6) AS stickiness
         FROM wk JOIN wau USING (week)
         ORDER BY week"""),

    // ── RFM quintile segmentation (the classic customer cube) ───────────
    // Per customer: recency (days from last order to the corpus max
    // date), frequency (order count), monetary (decimal-exact spend);
    // each ntile(5)-scored over a tie-pinned total order; segment counts
    // per (r, f, m) cell. Three windows over the customer-count relation
    // + one rollup — nothing fact-scale after the first aggregate.
    Query("q_rfm", ((s, dir) => {
      val o = t(s, dir, "orders")
      val maxD = o.agg(max(col("o_orderdate")).as("max_d"))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_d"),
          count(lit(1)).as("freq"),
          Exact.roundSum(col("o_totalprice")).as("monetary"))
        .crossJoin(broadcast(maxD))
        .select(col("o_custkey"),
          datediff(col("max_d").cast("date"), col("last_d").cast("date"))
            .as("recency"),
          col("freq"), col("monetary"))
      def q(c: String, asc0: Boolean) = ntile(5).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("o_custkey"), lit(1L)))
          .orderBy(if (asc0) col(c).asc else col(c).desc,
            col("o_custkey").asc))
      per
        .select(col("o_custkey"),
          q("recency", asc0 = true).as("r_q"),
          q("freq", asc0 = false).as("f_q"),
          q("monetary", asc0 = false).as("m_q"))
        .groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("r_q", "f_q", "m_q")
    }),
      """WITH per AS (
           SELECT o_custkey, max(o_orderdate) AS last_d,
             count(*) AS freq,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10)))
               AS DOUBLE), 4) AS monetary
           FROM orders GROUP BY 1),
         mx AS (SELECT max(o_orderdate) AS max_d FROM orders),
         rfm AS (
           SELECT o_custkey,
             date_diff('day', CAST(last_d AS DATE), CAST(max_d AS DATE))
               AS recency,
             freq, monetary
           FROM per CROSS JOIN mx),
         scored AS (
           SELECT o_custkey,
             ntile(5) OVER (ORDER BY recency ASC, o_custkey ASC) AS r_q,
             ntile(5) OVER (ORDER BY freq DESC, o_custkey ASC) AS f_q,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_q
           FROM rfm)
         SELECT r_q, f_q, m_q, count(*) AS n_customers
         FROM scored GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q"""),

    // ── Weekly cohort retention matrix ──────────────────────────────────
    // cohort week (user's first event) × activity week → distinct users:
    // the classic retention triangle. Two aggregations + one keyed join.
    Query("q_cohort", ((s, dir) => {
      val ev = Tables.events(s, dir)
      val first = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).cast("timestamp_ntz")
          .as("cohort_week"))
      val act = ev.select(col("user_id"),
          date_trunc("week", col("ts")).cast("timestamp_ntz").as("week"))
        .distinct()
      first.join(act, Seq("user_id"))
        .groupBy(col("cohort_week"), col("week"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week")
    }),
      """WITH f AS (
           SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
           FROM events GROUP BY 1),
         a AS (
           SELECT DISTINCT user_id, date_trunc('week', ts) AS week
           FROM events)
         SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(a.week AS TIMESTAMP) AS week, count(*) AS n_users
         FROM f JOIN a ON f.user_id = a.user_id
         GROUP BY 1, 2 ORDER BY cohort_week, week"""),

    // ── JSON (get_json_object + from_json) ──────────────────────────────
    Query("q_events_props", ((s, dir) =>
      t(s, dir, "events")
        .select(
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k_path"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k_struct"),
          col("value"))
        .groupBy(col("k_path"), col("k_struct"))
        .agg(count(lit(1)).as("cnt"), Exact.roundSum(col("value")).as("sum_value"))
        .orderBy("k_path")),
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS INT) AS k_path,
            CAST(json_extract_string(props, '$$.k') AS INT) AS k_struct,
            count(*) AS cnt, ${oSum("value", "sum_value")}
          FROM events GROUP BY 1, 2 ORDER BY k_path"""),

    // ── Array functions over tokenized text ─────────────────────────────
    Query("q_array_fns", ((s, dir) => {
      val toks = graft.tok.Tokenizer.lowerTokens(col("text"))
      // try_element_at: ANSI mode errors on out-of-bounds element_at, but a
      // zero-token doc must yield NULL (= the oracle's list[1] on empty)
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          try_element_at(sort_array(toks), lit(1)).as("first_token"),
          try_element_at(sort_array(toks, asc = false), lit(1)).as("last_token"))
        .orderBy("doc_id")
    }),
      s"""SELECT doc_id,
            CAST(len(toks) AS INT) AS n_tokens,
            CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
            list_sort(toks)[1] AS first_token,
            list_sort(toks)[-1] AS last_token
          FROM (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '$Re'),
                              x -> x <> '') AS toks
                FROM documents)
          ORDER BY doc_id"""),

    // ── String functions ────────────────────────────────────────────────
    Query("q_string_fns", ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 4).as("prefix"),
          length(col("p_name")).as("len"),
          regexp_extract(col("p_brand"), "[0-9]+", 0).cast(IntegerType).as("brand_num"),
          concat_ws("/", col("p_type"), col("p_brand")).as("type_brand"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"))
        .orderBy("p_partkey")),
      """SELECT p_partkey, upper(p_name) AS uname,
            substring(p_name, 1, 4) AS prefix,
            CAST(length(p_name) AS INT) AS len,
            CAST(regexp_extract(p_brand, '[0-9]+') AS INT) AS brand_num,
            concat_ws('/', p_type, p_brand) AS type_brand,
            regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
         FROM part ORDER BY p_partkey"""),

    // ── Math functions ──────────────────────────────────────────────────
    // (l_orderkey, l_linenumber) repeats in the fixtures (11,785 keys at
    // sf0.01), so both engines order by EVERY output column: rows that
    // tie on all of them are identical, and the order is total. Plain
    // Tables.table, not the widened parTable scan: the sort's range
    // exchange right after the cheap projection already spreads the rows
    // over every core, so a round-robin widen would put a second shuffle
    // in front of it (the reasoning of Tables.events' widen=false).
    Query("q_math_fns", ((s, dir) =>
      Tables.table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
          round(log(col("l_extendedprice") + lit(1.0)), 6).as("ln_price"),
          ceil(col("l_quantity") / lit(7.0)).as("qty_ceil"),
          floor(col("l_quantity") / lit(7.0)).as("qty_floor"),
          abs(col("l_discount") - lit(0.05)).as("abs_disc"),
          pmod(col("l_orderkey"), lit(97L)).as("key_mod"))
        .orderBy("l_orderkey", "l_linenumber", "sqrt_price", "ln_price",
          "qty_ceil", "qty_floor", "abs_disc", "key_mod")),
      """SELECT l_orderkey, l_linenumber,
            ROUND(sqrt(l_extendedprice), 6) AS sqrt_price,
            ROUND(ln(l_extendedprice + 1.0), 6) AS ln_price,
            CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil,
            CAST(floor(l_quantity / 7.0) AS BIGINT) AS qty_floor,
            abs(l_discount - 0.05) AS abs_disc,
            l_orderkey % 97 AS key_mod
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, sqrt_price, ln_price,
                  qty_ceil, qty_floor, abs_disc, key_mod"""),

    // ── Portable Pearson correlation via decimal moment sums ────────────
    // Built-in corr() accumulates covariance in shuffle order (engine- and
    // partitioning-dependent low bits); this computes the five moment
    // sums exactly in DECIMAL, then combines them in one fixed IEEE
    // double expression — r is bit-identical at any partitioning and the
    // oracle replays the same formula. x·y multiplies in double BEFORE
    // the decimal cast (the q_doc_entropy portable weighted-sum shape).
    Query("q_corr", ((s, dir) => {
      val dec = "decimal(30,10)"
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sx"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sy"),
          sum((col("l_quantity") * col("l_extendedprice")).cast(dec))
            .cast("double").as("sxy"),
          sum((col("l_quantity") * col("l_quantity")).cast(dec))
            .cast("double").as("sxx"),
          sum((col("l_extendedprice") * col("l_extendedprice")).cast(dec))
            .cast("double").as("syy"))
        .select(col("l_returnflag"), col("n"),
          round((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n").cast("double") * col("sxx") - col("sx") * col("sx"))
              * sqrt(col("n").cast("double") * col("syy") - col("sy") * col("sy"))), 6)
            .as("r"))
        .orderBy("l_returnflag")
    }),
      """WITH m AS (
            SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sx,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)
                AS sy,
              CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,10)))
                   AS DOUBLE) AS sxy,
              CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,10)))
                   AS DOUBLE) AS sxx,
              CAST(SUM(CAST(l_extendedprice * l_extendedprice
                            AS DECIMAL(30,10))) AS DOUBLE) AS syy
            FROM lineitem GROUP BY l_returnflag)
          SELECT l_returnflag, n,
            ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                     * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r
          FROM m ORDER BY l_returnflag"""),

    // ── Per-group OLS regression (slope/intercept) ──────────────────────
    // Least-squares fit of price on quantity from the same five decimal
    // moment sums as q_corr — the portable sibling of regr_slope/
    // regr_intercept (whose built-in accumulation is shuffle-order-
    // dependent). slope = (nΣxy−ΣxΣy)/(nΣxx−Σx²); b = (Σy−slope·Σx)/n.
    Query("q_regression", ((s, dir) => {
      val dec = "decimal(30,10)"
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sx"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sy"),
          sum((col("l_quantity") * col("l_extendedprice")).cast(dec))
            .cast("double").as("sxy"),
          sum((col("l_quantity") * col("l_quantity")).cast(dec))
            .cast("double").as("sxx"))
        .withColumn("slope",
          (col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
            / (col("n").cast("double") * col("sxx") - col("sx") * col("sx")))
        .select(col("l_returnflag"), col("n"),
          round(col("slope"), 6).as("slope"),
          round((col("sy") - col("slope") * col("sx"))
            / col("n").cast("double"), 6).as("intercept"))
        .orderBy("l_returnflag")
    }),
      // the unrounded slope feeds the intercept on both sides (rounding it
      // first would double-round the composite)
      """WITH m AS (
            SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sx,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)
                AS sy,
              CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,10)))
                   AS DOUBLE) AS sxy,
              CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,10)))
                   AS DOUBLE) AS sxx
            FROM lineitem GROUP BY l_returnflag),
          k AS (
            SELECT *, (CAST(n AS DOUBLE) * sxy - sx * sy)
                      / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope
            FROM m)
          SELECT l_returnflag, n, ROUND(slope, 6) AS slope,
            ROUND((sy - slope * sx) / CAST(n AS DOUBLE), 6) AS intercept
          FROM k ORDER BY l_returnflag"""),

    // ── Spearman rank correlation (tie-corrected, distributed-exact) ────
    // The monotone-association read Pearson can't give: correlation of
    // RANKS, robust to outliers and nonlinearity. Ranks come from the
    // distributed Ranks.globalRank kernel (no single-partition sort), tie
    // handling is exact midranks in the DOUBLED integer form (2·minrank
    // + cnt − 1 — the MWU idiom: the ×2 cancels in Pearson, and every
    // moment stays an exact integer; per-row u·v products in
    // DECIMAL(19,0)² so nothing overflows at any corpus size). Two
    // rankings joined back on the row id (keyed), one moment aggregate,
    // one IEEE chain at the edge.
    Query("q_spearman", ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_extendedprice"),
          (col("l_orderkey") * 10L + col("l_linenumber")).as("rid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def doubledMidranks(valCol: String, as: String) = {
        val rk = graft.ops.Ranks.globalRank(base, col(valCol), col("rid"))
        val per = rk.groupBy(col("x"))
          .agg(min(col("r")).as("minr"), count(lit(1)).as("cnt"))
        rk.join(per, Seq("x"))
          .select(col("tie").as("rid"),
            (col("minr") * 2L + col("cnt") - 1L).as(as))
      }
      val d19 = "decimal(19,0)"
      val m = doubledMidranks("l_quantity", "u")
        .join(doubledMidranks("l_extendedprice", "v"), Seq("rid"))
        .agg(count(lit(1)).as("n"),
          sum(col("u").cast("decimal(30,0)")).cast("double").as("su"),
          sum(col("v").cast("decimal(30,0)")).cast("double").as("sv"),
          sum(col("u").cast(d19) * col("v").cast(d19)).cast("double")
            .as("suv"),
          sum(col("u").cast(d19) * col("u").cast(d19)).cast("double")
            .as("suu"),
          sum(col("v").cast(d19) * col("v").cast(d19)).cast("double")
            .as("svv"))
      val nd = col("n").cast("double")
      m.select(col("n"),
        round((nd * col("suv") - col("su") * col("sv")) /
          (sqrt(nd * col("suu") - col("su") * col("su")) *
            sqrt(nd * col("svv") - col("sv") * col("sv"))), 6)
          .as("spearman_rho"))
    }),
      // rank() = min-rank on ties; doubled midrank = 2·rank + cnt − 1.
      """WITH b AS (
            SELECT l_quantity AS q, l_extendedprice AS p,
              l_orderkey * 10 + l_linenumber AS rid
            FROM lineitem),
          ur AS (
            SELECT rid, 2 * rank() OVER (ORDER BY q)
              + count(*) OVER (PARTITION BY q) - 1 AS u
            FROM b),
          vr AS (
            SELECT rid, 2 * rank() OVER (ORDER BY p)
              + count(*) OVER (PARTITION BY p) - 1 AS v
            FROM b),
          m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CAST(u AS DECIMAL(30,0))) AS DOUBLE) AS su,
              CAST(SUM(CAST(v AS DECIMAL(30,0))) AS DOUBLE) AS sv,
              CAST(SUM(CAST(u AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)))
                AS DOUBLE) AS suv,
              CAST(SUM(CAST(u AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0)))
                AS DOUBLE) AS suu,
              CAST(SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)))
                AS DOUBLE) AS svv
            FROM ur JOIN vr USING (rid))
          SELECT n,
            ROUND((CAST(n AS DOUBLE) * suv - su * sv)
              / (sqrt(CAST(n AS DOUBLE) * suu - su * su)
                * sqrt(CAST(n AS DOUBLE) * svv - sv * sv)), 6)
              AS spearman_rho
          FROM m"""),

    // ── Cramér's V (categorical × categorical association) ──────────────
    // The contingency-strength read between two categorical columns
    // (returnflag × ship month): χ² over the FULL r×c grid — absent
    // cells contribute their expectation — then V = √(χ²/(n·min(r,c)−n)).
    // One keyed cell aggregate; marginals fold from the CELLS (never a
    // second scan); the grid is a marginal×marginal crossJoin (≤ r·c
    // rows at any corpus size — the q_split_balance pattern) and per-cell
    // χ² terms quantize DECIMAL(30,6) before the sum.
    Query("q_cramers_v", ((s, dir) => {
      val cells = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rf"),
          month(col("l_shipdate")).as("mo"))
        .agg(count(lit(1)).as("o"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rm = cells.groupBy(col("rf")).agg(sum(col("o")).as("rsum"))
      val cm = cells.groupBy(col("mo")).agg(sum(col("o")).as("csum"))
      val tot = cells.agg(sum(col("o")).as("n"),
        count_distinct(col("rf")).as("r"),
        count_distinct(col("mo")).as("c"))
      val e = col("rsum").cast("double") * col("csum").cast("double") /
        col("n").cast("double")
      val chi = rm.crossJoin(cm) // marginal grid: r·c rows
        .join(cells, Seq("rf", "mo"), "left")
        .crossJoin(broadcast(tot))
        .select(((coalesce(col("o"), lit(0L)).cast("double") - e) *
          (coalesce(col("o"), lit(0L)).cast("double") - e) / e)
          .cast("decimal(30,6)").as("term"))
        .agg(sum(col("term")).cast("double").as("chi2"))
      tot.crossJoin(broadcast(chi))
        .select(col("n"), col("r"), col("c"),
          round(col("chi2"), 6).as("chi2"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"),
          round(sqrt(col("chi2") /
            (col("n").cast("double") *
              least(col("r") - 1, col("c") - 1).cast("double"))), 6)
            .as("cramers_v"))
    }),
      """WITH cells AS (
            SELECT l_returnflag AS rf, month(l_shipdate) AS mo,
              CAST(count(*) AS BIGINT) AS o
            FROM lineitem GROUP BY 1, 2),
          rm AS (SELECT rf, CAST(SUM(o) AS BIGINT) AS rsum
                 FROM cells GROUP BY 1),
          cm AS (SELECT mo, CAST(SUM(o) AS BIGINT) AS csum
                 FROM cells GROUP BY 1),
          tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                    CAST(count(DISTINCT rf) AS BIGINT) AS r,
                    CAST(count(DISTINCT mo) AS BIGINT) AS c
                  FROM cells),
          grid AS (
            SELECT rm.rf, cm.mo, rm.rsum, cm.csum,
              coalesce(cells.o, 0) AS o
            FROM rm CROSS JOIN cm
            LEFT JOIN cells ON cells.rf = rm.rf AND cells.mo = cm.mo),
          x AS (
            SELECT CAST(SUM(CAST(
                (CAST(o AS DOUBLE) - CAST(rsum AS DOUBLE)
                   * CAST(csum AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(o AS DOUBLE) - CAST(rsum AS DOUBLE)
                   * CAST(csum AS DOUBLE) / CAST(n AS DOUBLE))
                / (CAST(rsum AS DOUBLE) * CAST(csum AS DOUBLE)
                   / CAST(n AS DOUBLE))
              AS DECIMAL(30,6))) AS DOUBLE) AS chi2
            FROM grid, tot)
          SELECT n, r, c,
            ROUND(chi2, 6) AS chi2,
            (r - 1) * (c - 1) AS dof,
            ROUND(sqrt(chi2 / (CAST(n AS DOUBLE)
              * CAST(least(r - 1, c - 1) AS DOUBLE))), 6) AS cramers_v
          FROM x, tot"""),

    // ── Theil inequality index with between/within decomposition ────────
    // How concentrated is customer revenue, and does the concentration
    // live BETWEEN nations or WITHIN them — the decomposable inequality
    // measure (Theil's T; Gini can't split). T = (1/n)Σ(x/μ)ln(x/μ) over
    // per-customer revenue, T_between = Σ_g s_g·ln(μ_g/μ) over nations,
    // T_within = T − T_between. Per-row/-group ln chains quantized
    // DECIMAL(30,6) before their sums; μ arrives via the 1-row global
    // aggregate crossJoin (the q_mi scalar pattern); the nation leg is a
    // ≤25-row relation. One keyed per-customer aggregate + one customer
    // dim join is all the data-scale work — the dim join carries NO
    // broadcast hint (VERDICT r13 #1): customer grows with sf, so AQE's
    // size threshold owns the side choice; at 100× it becomes a keyed
    // shuffle join instead of a forced multi-GB broadcast.
    Query("q_theil", ((s, dir) => {
      val dec = "decimal(30,10)"
      val cust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(dec)).cast("double").as("x"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
          Seq("o_custkey"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val glob = cust.agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).cast("double").as("xt"))
      val mu = col("xt") / col("n").cast("double")
      val tTot = cust.crossJoin(broadcast(glob)) // 1-row global
        .select(((col("x") / mu) * log(col("x") / mu))
          .cast("decimal(30,6)").as("term"))
        .agg(sum(col("term")).cast("double").as("tsum"))
      val nat = cust.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("ng"),
          sum(col("x").cast(dec)).cast("double").as("xg"))
      val tBet = nat.crossJoin(broadcast(glob)) // ≤25 rows × 1
        .select(((col("xg") / col("xt"))
            * log((col("xg") / col("ng").cast("double")) / mu))
          .cast("decimal(30,6)").as("term"))
        .agg(sum(col("term")).cast("double").as("bsum"))
      glob.crossJoin(broadcast(tTot)).crossJoin(broadcast(tBet))
        .select(col("n").as("n_customers"),
          round(col("tsum") / col("n").cast("double"), 6).as("t_total"),
          round(col("bsum"), 6).as("t_between"),
          round(col("tsum") / col("n").cast("double") - col("bsum"), 6)
            .as("t_within"))
    }),
      """WITH cust AS (
            SELECT o.o_custkey,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
                AS x,
              c.c_nationkey
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY o.o_custkey, c.c_nationkey),
          gl AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS xt
            FROM cust),
          tt AS (
            SELECT CAST(SUM(CAST((x / (xt / CAST(n AS DOUBLE)))
                * ln(x / (xt / CAST(n AS DOUBLE))) AS DECIMAL(30,6)))
              AS DOUBLE) AS tsum
            FROM cust, gl),
          nat AS (
            SELECT c_nationkey, CAST(count(*) AS BIGINT) AS ng,
              CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS xg
            FROM cust GROUP BY 1),
          tb AS (
            SELECT CAST(SUM(CAST((xg / xt)
                * ln((xg / CAST(ng AS DOUBLE)) / (xt / CAST(n AS DOUBLE)))
                AS DECIMAL(30,6))) AS DOUBLE) AS bsum
            FROM nat, gl)
          SELECT gl.n AS n_customers,
            ROUND(tsum / CAST(gl.n AS DOUBLE), 6) AS t_total,
            ROUND(bsum, 6) AS t_between,
            ROUND(tsum / CAST(gl.n AS DOUBLE) - bsum, 6) AS t_within
          FROM gl, tt, tb"""),

    // ── Simpson's-paradox audit (overall vs pooled-within slope) ────────
    // The aggregation trap detector: the OLS slope of price on quantity
    // computed over the whole table vs POOLED WITHIN returnflag groups
    // (Σ centered cross-moments / Σ centered variances). When the two
    // disagree in sign, any dashboard reading the overall trend is
    // confounded by group composition. One keyed group aggregate (decimal
    // moment sums kept IN decimal so the global sums are exact folds of
    // the group sums); per-group centered moments are one double chain
    // each, quantized DECIMAL(30,6) before the group-count-scale sum.
    Query("q_simpson", ((s, dir) => {
      val dec = "decimal(30,10)"
      val g = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(dec)).as("sx"),
          sum(col("l_extendedprice").cast(dec)).as("sy"),
          sum((col("l_quantity") * col("l_extendedprice")).cast(dec))
            .as("sxy"),
          sum((col("l_quantity") * col("l_quantity")).cast(dec)).as("sxx"))
      val nd = col("n").cast("double")
      val cxy = nd * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val cxx = nd * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      val agg = g.agg(
        sum(col("n")).as("n"),
        sum(col("sx")).cast("double").as("tsx"),
        sum(col("sy")).cast("double").as("tsy"),
        sum(col("sxy")).cast("double").as("tsxy"),
        sum(col("sxx")).cast("double").as("tsxx"),
        // within-group centered moments: n_g normalization differs per
        // group, so divide per group BEFORE summing (each term = Sxy_c/n_g)
        sum((cxy / nd).cast("decimal(30,6)")).cast("double").as("wxy"),
        sum((cxx / nd).cast("decimal(30,6)")).cast("double").as("wxx"))
      val tnd = col("n").cast("double")
      val slopeAll = (tnd * col("tsxy") - col("tsx") * col("tsy")) /
        (tnd * col("tsxx") - col("tsx") * col("tsx"))
      agg.select(col("n"),
          round(slopeAll, 6).as("slope_overall"),
          round(col("wxy") / col("wxx"), 6).as("slope_within"))
        .select(col("n"), col("slope_overall"), col("slope_within"),
          (col("slope_overall") * col("slope_within") >= 0)
            .as("same_sign"))
    }),
      """WITH g AS (
            SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
              SUM(CAST(l_quantity AS DECIMAL(30,10))) AS sx,
              SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS sy,
              SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,10)))
                AS sxy,
              SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,10))) AS sxx
            FROM lineitem GROUP BY 1),
          a AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n,
              CAST(SUM(sx) AS DOUBLE) AS tsx,
              CAST(SUM(sy) AS DOUBLE) AS tsy,
              CAST(SUM(sxy) AS DOUBLE) AS tsxy,
              CAST(SUM(sxx) AS DOUBLE) AS tsxx,
              CAST(SUM(CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / CAST(n AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE) AS wxy,
              CAST(SUM(CAST((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                / CAST(n AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE) AS wxx
            FROM g),
          s AS (
            SELECT n,
              ROUND((CAST(n AS DOUBLE) * tsxy - tsx * tsy)
                / (CAST(n AS DOUBLE) * tsxx - tsx * tsx), 6)
                AS slope_overall,
              ROUND(wxy / wxx, 6) AS slope_within
            FROM a)
          SELECT n, slope_overall, slope_within,
            slope_overall * slope_within >= 0 AS same_sign
          FROM s"""),

    // ── Two-feature OLS (normal equations, closed form) ─────────────────
    // Multiple regression the declarative way: price on (quantity,
    // discount) via the centered 2×2 normal system solved by Cramer's
    // rule — b₁, b₂ from the centered moment determinants, b₀ from the
    // means, R² = (b₁·S1y + b₂·S2y)/Syy (all centered). ONE aggregate
    // produces the nine decimal-exact moment sums; the solve is a pure
    // 1-row double chain, so the plan is a scan + map-side-combined
    // aggregate at any scale — no iterations, no driver matrix library.
    Query("q_ols2", ((s, dir) => {
      val dec = "decimal(30,10)"
      val m = t(s, dir, "lineitem").agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(dec)).cast("double").as("s1"),
        sum(col("l_discount").cast(dec)).cast("double").as("s2"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sy"),
        sum((col("l_quantity") * col("l_quantity")).cast(dec))
          .cast("double").as("s11"),
        sum((col("l_quantity") * col("l_discount")).cast(dec))
          .cast("double").as("s12"),
        sum((col("l_discount") * col("l_discount")).cast(dec))
          .cast("double").as("s22"),
        sum((col("l_quantity") * col("l_extendedprice")).cast(dec))
          .cast("double").as("s1y"),
        sum((col("l_discount") * col("l_extendedprice")).cast(dec))
          .cast("double").as("s2y"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast(dec))
          .cast("double").as("syy"))
      val nd = col("n").cast("double")
      val c11 = nd * col("s11") - col("s1") * col("s1")
      val c12 = nd * col("s12") - col("s1") * col("s2")
      val c22 = nd * col("s22") - col("s2") * col("s2")
      val c1y = nd * col("s1y") - col("s1") * col("sy")
      val c2y = nd * col("s2y") - col("s2") * col("sy")
      val cyy = nd * col("syy") - col("sy") * col("sy")
      val det = c11 * c22 - c12 * c12
      val b1 = (c1y * c22 - c2y * c12) / det
      val b2 = (c11 * c2y - c12 * c1y) / det
      m.select(col("n"),
        round(b1, 6).as("b_quantity"),
        round(b2, 6).as("b_discount"),
        round((col("sy") - b1 * col("s1") - b2 * col("s2")) / nd, 6)
          .as("intercept"),
        round((b1 * c1y + b2 * c2y) / cyy, 6).as("r2"))
    }),
      // same nine decimal moment sums; Cramer solve is one double chain.
      """WITH m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS s1,
              CAST(SUM(CAST(l_discount AS DECIMAL(30,10))) AS DOUBLE) AS s2,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)
                AS sy,
              CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,10)))
                   AS DOUBLE) AS s11,
              CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(30,10)))
                   AS DOUBLE) AS s12,
              CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(30,10)))
                   AS DOUBLE) AS s22,
              CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,10)))
                   AS DOUBLE) AS s1y,
              CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(30,10)))
                   AS DOUBLE) AS s2y,
              CAST(SUM(CAST(l_extendedprice * l_extendedprice
                   AS DECIMAL(30,10))) AS DOUBLE) AS syy
            FROM lineitem),
          c AS (
            SELECT n,
              s1, s2, sy,
              CAST(n AS DOUBLE) * s11 - s1 * s1 AS c11,
              CAST(n AS DOUBLE) * s12 - s1 * s2 AS c12,
              CAST(n AS DOUBLE) * s22 - s2 * s2 AS c22,
              CAST(n AS DOUBLE) * s1y - s1 * sy AS c1y,
              CAST(n AS DOUBLE) * s2y - s2 * sy AS c2y,
              CAST(n AS DOUBLE) * syy - sy * sy AS cyy
            FROM m),
          b AS (
            SELECT n, s1, s2, sy, c1y, c2y, cyy,
              (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
              (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
            FROM c)
          SELECT n, ROUND(b1, 6) AS b_quantity, ROUND(b2, 6) AS b_discount,
            ROUND((sy - b1 * s1 - b2 * s2) / CAST(n AS DOUBLE), 6)
              AS intercept,
            ROUND((b1 * c1y + b2 * c2y) / cyy, 6) AS r2
          FROM b"""),

    // ── Partial correlation (x ⟂ y given z) ─────────────────────────────
    // Does quantity relate to price AFTER controlling for discount — the
    // confounder-adjusted association q_corr can't give: r_xy·z =
    // (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) from the three pairwise
    // Pearsons, all from ONE aggregate's decimal moment sums (the q_ols2
    // nine). A gap between r_xy and r_xy·z is the q_simpson read in
    // correlation form.
    Query("q_partial_corr", ((s, dir) => {
      val dec = "decimal(30,10)"
      val m = t(s, dir, "lineitem").agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(dec)).cast("double").as("sx"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sy"),
        sum(col("l_discount").cast(dec)).cast("double").as("sz"),
        sum((col("l_quantity") * col("l_extendedprice")).cast(dec))
          .cast("double").as("sxy"),
        sum((col("l_quantity") * col("l_discount")).cast(dec))
          .cast("double").as("sxz"),
        sum((col("l_extendedprice") * col("l_discount")).cast(dec))
          .cast("double").as("syz"),
        sum((col("l_quantity") * col("l_quantity")).cast(dec))
          .cast("double").as("sxx"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast(dec))
          .cast("double").as("syy"),
        sum((col("l_discount") * col("l_discount")).cast(dec))
          .cast("double").as("szz"))
      val nd = col("n").cast("double")
      def r(sab: Column, sa: Column, sb: Column,
            saa: Column, sbb: Column) =
        (nd * sab - sa * sb) /
          (sqrt(nd * saa - sa * sa) * sqrt(nd * sbb - sb * sb))
      val rxy = r(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
      val rxz = r(col("sxz"), col("sx"), col("sz"), col("sxx"), col("szz"))
      val ryz = r(col("syz"), col("sy"), col("sz"), col("syy"), col("szz"))
      m.select(col("n"),
        round(rxy, 6).as("r_xy"),
        round(rxz, 6).as("r_xz"),
        round(ryz, 6).as("r_yz"),
        round((rxy - rxz * ryz) /
          sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)), 6)
          .as("r_xy_given_z"))
    }),
      """WITH m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sx,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)
                AS sy,
              CAST(SUM(CAST(l_discount AS DECIMAL(30,10))) AS DOUBLE) AS sz,
              CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,10)))
                AS DOUBLE) AS sxy,
              CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(30,10)))
                AS DOUBLE) AS sxz,
              CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,10)))
                AS DOUBLE) AS syz,
              CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,10)))
                AS DOUBLE) AS sxx,
              CAST(SUM(CAST(l_extendedprice * l_extendedprice
                AS DECIMAL(30,10))) AS DOUBLE) AS syy,
              CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(30,10)))
                AS DOUBLE) AS szz
            FROM lineitem),
          k AS (
            SELECT n,
              (CAST(n AS DOUBLE) * sxy - sx * sy)
                / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                  * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS rxy,
              (CAST(n AS DOUBLE) * sxz - sx * sz)
                / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                  * sqrt(CAST(n AS DOUBLE) * szz - sz * sz)) AS rxz,
              (CAST(n AS DOUBLE) * syz - sy * sz)
                / (sqrt(CAST(n AS DOUBLE) * syy - sy * sy)
                  * sqrt(CAST(n AS DOUBLE) * szz - sz * sz)) AS ryz
            FROM m)
          SELECT n, ROUND(rxy, 6) AS r_xy, ROUND(rxz, 6) AS r_xz,
            ROUND(ryz, 6) AS r_yz,
            ROUND((rxy - rxz * ryz)
              / sqrt((CAST(1 AS DOUBLE) - rxz * rxz)
                * (CAST(1 AS DOUBLE) - ryz * ryz)), 6) AS r_xy_given_z
          FROM k"""),

    // ── Equi-width histogram per group ──────────────────────────────────
    // 10 buckets of doc length per language: per-group min/max broadcast
    // back (group-count rows), bucket = least(floor((x−min)/w), 9); the
    // max value clamps into the last bucket, degenerate min==max groups
    // collapse to bucket 0. All width arithmetic in double with the
    // oracle's exact cast shape.
    // ── Equi-DEPTH histogram (the CBO selectivity boundary list) ────────
    // 8 quantile buckets of doc length per language via ntile over the
    // (n_chars, doc_id) total order (Profile.equiDepthHistogram) — the
    // companion of q_histogram's equi-width form; at 100 TB the exact
    // ntile swaps for approx_percentile cut points (scaladoc).
    Query("q_histogram_eqdepth", ((s, dir) =>
      graft.ops.Profile.equiDepthHistogram(
          t(s, dir, "documents").select(col("lang"), col("n_chars"),
            col("doc_id")),
          "lang", "n_chars", "doc_id", buckets = 8)
        .orderBy("lang", "bucket")),
      // ntile remainder rule (first buckets take the extra row) is the same
      // in both engines; the (n_chars, doc_id) total order pins membership.
      """SELECT lang, ntile_b AS bucket, count(*) AS n,
           min(n_chars) AS lo, max(n_chars) AS hi
         FROM (
           SELECT lang, n_chars,
             ntile(8) OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS ntile_b
           FROM documents)
         GROUP BY lang, ntile_b ORDER BY lang, bucket"""),

    Query("q_histogram", ((s, dir) => {
      val d = t(s, dir, "documents").select(col("lang"), col("n_chars"))
      val stats = d.groupBy(col("lang"))
        .agg(min("n_chars").as("mn"), max("n_chars").as("mx"))
      d.join(broadcast(stats), Seq("lang"))
        .withColumn("w", (col("mx") - col("mn")).cast("double") / 10)
        .withColumn("bucket",
          when(col("w") === 0, lit(0).cast("int"))
            .otherwise(least(floor((col("n_chars") - col("mn")) / col("w")),
              lit(9.0)).cast("int")))
        .groupBy(col("lang"), col("bucket"), col("mn"), col("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("bucket"), col("n"),
          round(col("mn") + col("bucket") * col("w"), 6).as("lo"),
          round(col("mn") + (col("bucket") + 1) * col("w"), 6).as("hi"))
        .orderBy("lang", "bucket")
    }),
      // width arithmetic mirrors the engine cast-for-cast (CAST(mx - mn AS
      // DOUBLE)/10 — a bare 10.0 literal would make DuckDB divide in DECIMAL)
      """WITH s AS (
            SELECT lang, min(n_chars) AS mn, max(n_chars) AS mx
            FROM documents GROUP BY lang),
          b AS (
            SELECT d.lang, s.mn, CAST(s.mx - s.mn AS DOUBLE) / 10 AS w,
              CASE WHEN CAST(s.mx - s.mn AS DOUBLE) / 10 = 0 THEN 0
                   ELSE CAST(LEAST(FLOOR((d.n_chars - s.mn)
                          / (CAST(s.mx - s.mn AS DOUBLE) / 10)), 9) AS INT)
              END AS bucket
            FROM documents d JOIN s USING (lang))
          SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n,
            ROUND(mn + bucket * w, 6) AS lo,
            ROUND(mn + (bucket + 1) * w, 6) AS hi
          FROM b GROUP BY lang, bucket, mn, w
          ORDER BY lang, bucket"""),

    // ── CUSUM changepoint scan over the hourly series ────────────────────
    // Level-shift detection in exact integers: the scaled CUSUM
    // D_r = |n·Σ_{i≤r}x_i − r·Σx| is the running deviation from the
    // global mean with every fraction multiplied out (int64 throughout;
    // doubles only in the final normalization). The changepoint is the
    // tie-pinned argmax over the dense gap-filled grid — one window
    // pass + a 1-row tie-pinned cut, the ops read that answers "did the
    // stream's level shift, and when".
    Query("q_cusum_break", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val hourUs = 3600L * 1000000L
      val perB = Tables.events(s, dir, widen = false)
        .select(expr("unix_micros(cast(ts as timestamp)) div 3600000000")
          .as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("n"))
      val dense = perB.agg(min("b").as("b0"), max("b").as("b1"))
        .select(explode(sequence(col("b0"), col("b1"))).as("b"))
        .join(perB, Seq("b"), "left")
        .select(col("b"), coalesce(col("n"), lit(0L)).as("x"))
      val const = W.partitionBy(pmod(col("b"), lit(1L)))
      val wCum = const.orderBy(col("b"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      dense.select(col("b"), col("x"),
          row_number().over(const.orderBy(col("b"))).as("r"),
          sum(col("x")).over(wCum).as("cx"),
          sum(col("x")).over(const).as("tot"),
          count(lit(1)).over(const).as("nn"))
        .select(col("b"), col("nn"), col("tot"),
          abs(col("nn") * col("cx") - col("r") * col("tot")).as("d"))
        .orderBy(desc("d"), col("b")).limit(1)
        .select(col("nn").as("n_buckets"),
          timestamp_micros(col("b") * hourUs).cast("timestamp_ntz")
            .as("cp_hour"),
          col("d").as("d_max"),
          round(col("d").cast("double") /
            (col("nn").cast("double") * col("tot")), 6).as("cusum_stat"))
    }),
      """WITH perb AS (
           SELECT epoch_us(ts) // 3600000000 AS b,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1),
         bounds AS (SELECT min(b) AS b0, max(b) AS b1 FROM perb),
         grid AS (SELECT unnest(generate_series(b0, b1)) AS b FROM bounds),
         dense AS (
           SELECT g.b, CAST(COALESCE(p.n, 0) AS BIGINT) AS x
           FROM grid g LEFT JOIN perb p USING (b)),
         c AS (
           SELECT b, x,
             row_number() OVER (ORDER BY b) AS r,
             CAST(sum(x) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cx,
             CAST(sum(x) OVER () AS BIGINT) AS tot,
             CAST(count(*) OVER () AS BIGINT) AS nn
           FROM dense),
         d AS (
           SELECT b, nn, tot, abs(nn * cx - r * tot) AS d
           FROM c ORDER BY d DESC, b LIMIT 1)
         SELECT nn AS n_buckets,
           make_timestamp(b * 3600000000) AS cp_hour,
           CAST(d AS BIGINT) AS d_max,
           ROUND(CAST(d AS DOUBLE) / (CAST(nn AS DOUBLE) * tot), 6)
             AS cusum_stat
         FROM d"""),

    // ── Discrete churn hazard (survival analysis over user lifetimes) ───
    // Kaplan–Meier's discrete cousin in exact integers: per observed-
    // lifetime week w (last-minus-first activity, epoch-day arithmetic),
    // the users whose observation ended there, the at-risk set (everyone
    // surviving ≥ w — a reverse running sum over the ≤ weeks relation),
    // and the hazard ratio rounded once. One per-user aggregate + one
    // tiny window; the survival product is deliberately NOT emitted
    // (Π of doubles is order-fragile — consumers fold hazards instead).
    Query("q_churn_hazard", ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day"))
        .groupBy(col("user_id"))
        .agg((max(col("day")) - min(col("day"))).as("span"))
        .select(expr("span div 7").as("w"))
      val cnt = perUser.groupBy(col("w")).agg(count(lit(1)).as("n_ended"))
      val wRev = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(col("w"), lit(1L)))
        .orderBy(desc("w"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      cnt.select(col("w"), col("n_ended"),
          sum(col("n_ended")).over(wRev).as("n_at_risk"))
        .select(col("w"), col("n_ended"), col("n_at_risk"),
          round(col("n_ended").cast("double") / col("n_at_risk"), 6)
            .as("hazard"))
        .orderBy("w")
    }),
      """WITH pu AS (
           SELECT user_id,
             (max(epoch_us(ts) // 86400000000)
              - min(epoch_us(ts) // 86400000000)) // 7 AS w
           FROM events GROUP BY user_id),
         c AS (SELECT w, CAST(count(*) AS BIGINT) AS n_ended
               FROM pu GROUP BY w),
         r AS (
           SELECT w, n_ended,
             CAST(sum(n_ended) OVER (ORDER BY w DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
           FROM c)
         SELECT w, n_ended, n_at_risk,
           ROUND(CAST(n_ended AS DOUBLE) / n_at_risk, 6) AS hazard
         FROM r ORDER BY w"""),

    // ── TPC-H Q3 shape (shipping priority) ──────────────────────────────
    // The canonical 3-way fact⋈fact⋈dim benchmark query: BUILDING
    // customers, orders placed before 1998, lineitems shipped after —
    // both date predicates and the segment filter push to their scans,
    // lineitem⋈orders shuffles once on orderkey, revenue folds in
    // DECIMAL, TakeOrderedAndProject cuts the top 10. The filtered
    // customer side carries NO broadcast hint (VERDICT r13 #1): it is
    // still ~1/5 of a relation that grows with sf, so AQE's size
    // threshold picks broadcast while it fits and a shuffle join once
    // it doesn't — the plan Spark picks unaided IS the point.
    Query("q_tpch_q3", ((s, dir) => {
      val c = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = t(s, dir, "orders")
        .where(col("o_orderdate") <
          lit("1998-01-01 00:00:00").cast("timestamp"))
      val li = t(s, dir, "lineitem")
        .where(col("l_shipdate") >
          lit("1998-01-01 00:00:00").cast("timestamp"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(Exact.roundSum(
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
    }),
      """SELECT l_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           o_orderpriority,
           ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey LIMIT 10"""),

    // ── Autocorrelation of the hourly event series (lags 1/24/168) ──────
    // Periodicity detection in exact integer arithmetic: Pearson r
    // between the gap-filled hourly count series and its k-shift, from
    // six int64 moment sums per lag (counts are ints — every sum exact;
    // doubles only in the final sqrt/divide, rounded once). The shift is
    // a keyed self-join on bucket index (one union of three shifted
    // projections, no window over the full span), so the plan is
    // lag-count × series-length linear. r(24) ≫ r(1) reads "daily
    // cycle"; r(168) the weekly one.
    Query("q_autocorr", ((s, dir) => {
      val perB = Tables.events(s, dir)
        .select(expr("unix_micros(cast(ts as timestamp)) div 3600000000")
          .as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("n"))
      val dense = perB.agg(min("b").as("b0"), max("b").as("b1"))
        .select(explode(sequence(col("b0"), col("b1"))).as("b"))
        .join(perB, Seq("b"), "left")
        .select(col("b"), coalesce(col("n"), lit(0L)).as("x"))
      val shifted = Seq(1L, 24L, 168L)
        .map(l => dense.select(lit(l).as("lag"), (col("b") + l).as("b"),
          col("x").as("y")))
        .reduce(_ unionByName _)
      dense.join(shifted, Seq("b"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("m"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("lag"), col("m"),
          round((col("m") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (sqrt((col("m") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
             sqrt((col("m") * col("syy") - col("sy") * col("sy"))
              .cast("double"))), 6).as("acf"))
        .orderBy("lag")
    }),
      """WITH perb AS (
           SELECT epoch_us(ts) // 3600000000 AS b,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1),
         bounds AS (SELECT min(b) AS b0, max(b) AS b1 FROM perb),
         grid AS (SELECT unnest(generate_series(b0, b1)) AS b FROM bounds),
         dense AS (
           SELECT g.b, CAST(COALESCE(p.n, 0) AS BIGINT) AS x
           FROM grid g LEFT JOIN perb p USING (b)),
         shifted AS (
           SELECT CAST(1 AS BIGINT) AS lag, b + 1 AS b, x AS y FROM dense
           UNION ALL SELECT 24, b + 24, x FROM dense
           UNION ALL SELECT 168, b + 168, x FROM dense),
         j AS (
           SELECT s.lag, d.x, s.y FROM dense d JOIN shifted s USING (b)),
         m AS (
           SELECT lag, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
           FROM j GROUP BY lag)
         SELECT lag, m,
           ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 6) AS acf
         FROM m ORDER BY lag"""),

    // ── Deterministic Poisson-bootstrap confidence interval ─────────────
    // The scale-native bootstrap: replica b resamples every row with a
    // Poisson(1) weight derived from the portable h60 draw (inverse-CDF
    // thresholds as shared literals), so B replicas cost ONE pass with a
    // B+1× map-side fan-out and one keyed aggregate — no per-replica
    // rescan, no RNG state. b=0 is the unweighted point estimate; the
    // 2.5/97.5 exact percentiles of the 32 replica means bound the mean
    // order value. Weighted sums decimal-accumulated; every division
    // rounded once at 6.
    Query("q_bootstrap_ci", ((s, dir) => {
      val B = 32
      // ONE md5 per row; the per-replica uniforms come from exact-integer
      // affine transforms of its low 20 bits (odd multiplier ⇒ bijection
      // on Z_2²⁰ — the Sketches.affineSql identity minhash already uses).
      // The md5-per-(row, replica) form measured 13.5 s at sf0.1. The
      // hashed relation is persisted BEFORE the fan-out: without the
      // barrier Catalyst collapses the md5 projection past the Generate
      // and recomputes it per replica row (the q_pq_codes inlining trap),
      // erasing the 33× saving. Lifetime: until the caller clears
      // (Verify/Bench clear per query).
      val hashed = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          pmod(graft.functions.Hashes.h60(col("o_orderkey").cast("string")),
            lit(1048576L)).as("h20"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fan = hashed
        .select(col("o_totalprice"), col("h20"),
          explode(sequence(lit(0), lit(B))).as("b"))
      val a = (col("b") * 2462143L) % 524288L * 2L + 1L
      val c = (col("b") * 586061L) % 1048576L
      val u = pmod(a * col("h20") + c, lit(1048576L))
        .cast("double") / 1048576.0
      val w = when(col("b") === 0, lit(1L))
        .when(u < 0.36787944117144233, 0L)
        .when(u < 0.7357588823428847, 1L)
        .when(u < 0.9196986029286058, 2L)
        .when(u < 0.9810118431238462, 3L)
        .when(u < 0.9963401531726563, 4L)
        .otherwise(5L)
      fan.select(col("b"), w.as("w"), col("o_totalprice"))
        .groupBy(col("b"))
        .agg(round(
          sum((col("w").cast("double") * col("o_totalprice"))
            .cast("decimal(38,10)")).cast("double") / sum(col("w")), 6)
          .as("m"))
        .agg(
          sum(when(col("b") >= 1, 1L).otherwise(0L)).as("n_replicas"),
          max(when(col("b") === 0, col("m"))).as("est"),
          round(expr("percentile(CASE WHEN b >= 1 THEN m END, 0.025)"), 6)
            .as("ci_lo"),
          round(expr("percentile(CASE WHEN b >= 1 THEN m END, 0.975)"), 6)
            .as("ci_hi"))
    }), {
      val h = graft.functions.Hashes.h60Sql("CAST(o_orderkey AS VARCHAR)")
      s"""WITH fan AS (
           SELECT o_orderkey, o_totalprice,
             ($h) % 1048576 AS h20,
             unnest(generate_series(0, 32)) AS b
           FROM orders),
         wts AS (
           SELECT b, o_totalprice,
             CASE WHEN b = 0 THEN 1
                  WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428847 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238462 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  ELSE 5 END AS w
           FROM (SELECT *,
                   CAST(((((b * 2462143) % 524288) * 2 + 1) * h20
                         + (b * 586061) % 1048576) % 1048576 AS DOUBLE)
                     / 1048576.0 AS u
                 FROM fan)),
         means AS (
           SELECT b,
             ROUND(CAST(sum(CAST(w * o_totalprice AS DECIMAL(38,10)))
               AS DOUBLE) / sum(w), 6) AS m
           FROM wts GROUP BY b)
         SELECT CAST(sum(CASE WHEN b >= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_replicas,
           max(CASE WHEN b = 0 THEN m END) AS est,
           ROUND(quantile_cont(CASE WHEN b >= 1 THEN m END, 0.025), 6)
             AS ci_lo,
           ROUND(quantile_cont(CASE WHEN b >= 1 THEN m END, 0.975), 6)
             AS ci_hi
         FROM means"""
    }),

    // ── Day-of-week seasonality profile + χ² uniformity parts ───────────
    // Per day-of-week: event mass, share, and the day's χ² contribution
    // against the uniform dow×hour expectation — the seasonality read
    // that decides whether time-based sampling needs stratification.
    // Day/hour come from exact epoch-micros integer arithmetic (no
    // engine dow() convention risk; 0=Sunday via the +4 epoch offset).
    // Cell contributions are per-row IEEE, rounded, then decimal-summed;
    // the corpus total rides a constant-key window over the ≤168-cell
    // relation. Absent cells (none in this fixture) would need a
    // gapfill-style densify for the textbook χ² — documented contract.
    Query("q_seasonality", ((s, dir) => {
      val cells = Tables.events(s, dir).select(
          expr("(unix_micros(cast(ts as timestamp)) div 86400000000 + 4) % 7")
            .as("dow"),
          expr("(unix_micros(cast(ts as timestamp)) div 3600000000) % 24")
            .as("hod"))
        .groupBy(col("dow"), col("hod")).agg(count(lit(1)).as("n"))
      val wAll = Window.partitionBy(pmod(col("dow"), lit(1L)))
      cells.select(col("dow"), col("n"),
          sum(col("n")).over(wAll).as("ntot"),
          (sum(col("n")).over(wAll).cast("double") / 168.0).as("e"))
        .select(col("dow"), col("n"), col("ntot"),
          round((col("n").cast("double") - col("e")) *
            (col("n").cast("double") - col("e")) / col("e"), 6).as("c"))
        .groupBy(col("dow"))
        .agg(sum(col("n")).as("n_events"),
          round(sum(col("n")).cast("double") / max(col("ntot")), 6)
            .as("share"),
          round(sum(col("c").cast("decimal(28,10)")).cast("double"), 4)
            .as("chi2_part"))
        .orderBy("dow")
    }),
      """WITH cells AS (
           SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hod,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         e AS (
           SELECT dow, n, sum(n) OVER () AS ntot,
             CAST(sum(n) OVER () AS DOUBLE) / 168.0 AS e
           FROM cells),
         c AS (
           SELECT dow, n, ntot,
             ROUND((CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e, 6)
               AS c
           FROM e)
         SELECT dow, CAST(sum(n) AS BIGINT) AS n_events,
           ROUND(CAST(sum(n) AS DOUBLE) / max(ntot), 6) AS share,
           ROUND(CAST(sum(CAST(c AS DECIMAL(28,10))) AS DOUBLE), 4)
             AS chi2_part
         FROM c GROUP BY dow ORDER BY dow"""),

    // ── Funnel time-to-convert distribution ─────────────────────────────
    // q_funnel tells WHO converts; this tells HOW FAST: per stage
    // transition (signup→first-later-click, click→first-later-purchase),
    // exact median/p90/mean hours. Stage timestamps use q_funnel's exact
    // min-after-predecessor aggregates; gaps convert to hours in exact
    // epoch-micros, are rounded ONCE, then feed the proven
    // percentile↔quantile_cont and decimal-mean parities. Two keyed
    // left joins + aggregates — per-user state, never event-pair scale.
    Query("q_funnel_time", ((s, dir) => {
      val ev = Tables.events(s, dir)
      val signup = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
      val clicked = signup
        .join(ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("cts")),
          Seq("user_id"), "left")
        .groupBy(col("user_id"), col("signup_ts"))
        .agg(min(when(col("cts") > col("signup_ts"), col("cts")))
          .as("click_ts"))
      val full = clicked
        .join(ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pts")),
          Seq("user_id"), "left")
        .groupBy(col("user_id"), col("signup_ts"), col("click_ts"))
        .agg(min(when(col("pts") > col("click_ts"), col("pts")))
          .as("purchase_ts"))
      def hrs(a: Column, b: Column) = round(
        (unix_micros(b.cast("timestamp")) - unix_micros(a.cast("timestamp")))
          .cast("double") / 3600000000.0, 6)
      full.where(col("click_ts").isNotNull)
        .select(lit("signup_to_click").as("transition"),
          hrs(col("signup_ts"), col("click_ts")).as("h"))
        .unionByName(full.where(col("purchase_ts").isNotNull)
          .select(lit("click_to_purchase").as("transition"),
            hrs(col("click_ts"), col("purchase_ts")).as("h")))
        .groupBy(col("transition"))
        .agg(count(lit(1)).as("n_users"),
          round(expr("percentile(h, 0.5)"), 6).as("med_hours"),
          round(expr("percentile(h, 0.9)"), 6).as("p90_hours"),
          round(sum(col("h").cast("decimal(28,10)")).cast("double") /
            count(lit(1)), 6).as("mean_hours"))
        .orderBy("transition")
    }),
      """WITH s AS (
           SELECT user_id, min(ts) AS signup_ts FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         c AS (
           SELECT s.user_id, s.signup_ts,
             min(CASE WHEN e.ts > s.signup_ts THEN e.ts END) AS click_ts
           FROM s LEFT JOIN events e
             ON e.user_id = s.user_id AND e.event_type = 'click'
           GROUP BY 1, 2),
         p AS (
           SELECT c.user_id, c.signup_ts, c.click_ts,
             min(CASE WHEN e.ts > c.click_ts THEN e.ts END) AS purchase_ts
           FROM c LEFT JOIN events e
             ON e.user_id = c.user_id AND e.event_type = 'purchase'
           GROUP BY 1, 2, 3),
         t AS (
           SELECT 'signup_to_click' AS transition,
             ROUND(CAST(epoch_us(click_ts) - epoch_us(signup_ts) AS DOUBLE)
               / 3600000000.0, 6) AS h
           FROM p WHERE click_ts IS NOT NULL
           UNION ALL
           SELECT 'click_to_purchase',
             ROUND(CAST(epoch_us(purchase_ts) - epoch_us(click_ts)
               AS DOUBLE) / 3600000000.0, 6) AS h
           FROM p WHERE purchase_ts IS NOT NULL)
         SELECT transition, CAST(count(*) AS BIGINT) AS n_users,
           ROUND(quantile_cont(h, 0.5), 6) AS med_hours,
           ROUND(quantile_cont(h, 0.9), 6) AS p90_hours,
           ROUND(CAST(sum(CAST(h AS DECIMAL(28,10))) AS DOUBLE)
             / count(*), 6) AS mean_hours
         FROM t GROUP BY 1 ORDER BY transition"""),

    // ── Rolling 24-hour median/mean over a dense per-type hourly grid ───
    // The trend line an ops dashboard overlays on q_events_anomaly's
    // spikes: per event type, the 24-bucket rolling median (exact,
    // interpolated — the q_percentiles parity result applied as a window)
    // and rolling mean (int sums, one division per row) of hourly counts
    // on a gap-FILLED grid — rolling stats over a sparse series silently
    // skip empty hours, so each type's grid is densified first
    // (per-type sequence() explode off its own 1-row bounds: keyed, no
    // cartesian). Bucket indices in exact epoch-micros; timestamps at
    // the output edge.
    Query("q_rolling_median", ((s, dir) => {
      val hourUs = 3600L * 1000000L
      val perB = Tables.events(s, dir)
        .select(col("event_type"),
          expr(s"unix_micros(cast(ts as timestamp)) div $hourUs").as("b"))
        .groupBy(col("event_type"), col("b"))
        .agg(count(lit(1)).as("n"))
      val dense = perB.groupBy(col("event_type"))
        .agg(min("b").as("b0"), max("b").as("b1"))
        .select(col("event_type"),
          explode(sequence(col("b0"), col("b1"))).as("b"))
        .join(perB, Seq("event_type", "b"), "left")
        .select(col("event_type"), col("b"),
          coalesce(col("n"), lit(0L)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("b"))
        .rowsBetween(-23, 0)
      dense.select(col("event_type"),
          timestamp_micros(col("b") * hourUs).cast("timestamp_ntz")
            .as("hour"),
          col("n"),
          round(expr("percentile(n, 0.5)").over(w), 6).as("med24"),
          round(sum(col("n")).over(w).cast("double") /
            count(lit(1)).over(w), 6).as("mean24"))
        .orderBy("event_type", "hour")
    }),
      """WITH perb AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS b,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT event_type, min(b) AS b0, max(b) AS b1
           FROM perb GROUP BY 1),
         grid AS (
           SELECT event_type, unnest(generate_series(b0, b1)) AS b
           FROM bounds),
         dense AS (
           SELECT g.event_type, g.b,
             CAST(COALESCE(p.n, 0) AS BIGINT) AS n
           FROM grid g LEFT JOIN perb p
             ON g.event_type = p.event_type AND g.b = p.b)
         SELECT event_type, make_timestamp(b * 3600000000) AS hour, n,
           ROUND(quantile_cont(n, 0.5) OVER w, 6) AS med24,
           ROUND(CAST(sum(n) OVER w AS DOUBLE) / (count(*) OVER w), 6)
             AS mean24
         FROM dense
         WINDOW w AS (PARTITION BY event_type ORDER BY b
                      ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
         ORDER BY event_type, hour"""),

    // ── Rolling 7-day distinct actives (windowed COUNT DISTINCT) ────────
    // Distinct counting over sliding windows — the aggregate window
    // functions can't express — via the coverage-explode identity: a
    // user active on day d is "covered" on days d..d+6, so rolling WAU =
    // plain count_distinct per covered day. Constant 7× fan-out of the
    // (user, day) DISTINCT relation (already ≪ the event count), then
    // two keyed distinct aggregates; the day-grid join keeps only days
    // the corpus actually spans. The honest-stickiness read next to
    // q_dau_wau's calendar weeks.
    Query("q_rolling_wau", ((s, dir) => {
      val dayUs = 86400L * 1000000L
      val ud = Tables.events(s, dir)
        .select(col("user_id"),
          expr(s"unix_micros(cast(ts as timestamp)) div $dayUs").as("day"))
        .distinct()
      val dau = ud.groupBy(col("day").as("d"))
        .agg(count_distinct(col("user_id")).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6L)).as("d"))
        .groupBy(col("d"))
        .agg(count_distinct(col("user_id")).as("wau7"))
      dau.join(wau, Seq("d"))
        .select(
          timestamp_micros(col("d") * dayUs).cast("timestamp_ntz")
            .as("day"),
          col("dau"), col("wau7"),
          round(col("dau").cast("double") / col("wau7"), 6)
            .as("stickiness"))
        .orderBy("day")
    }),
      """WITH ud AS (
           SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
           FROM events),
         dau AS (
           SELECT day AS d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
           FROM ud GROUP BY 1),
         cover AS (
           SELECT user_id, unnest(generate_series(day, day + 6)) AS d
           FROM ud),
         wau AS (
           SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS wau7
           FROM cover GROUP BY d)
         SELECT make_timestamp(d * 86400000000) AS day, dau.dau, wau.wau7,
           ROUND(CAST(dau AS DOUBLE) / wau7, 6) AS stickiness
         FROM dau JOIN wau USING (d)
         ORDER BY day"""),

    // ── Cohort LTV triangle (retention-weighted revenue) ────────────────
    // q_cohort's money twin: per (first-order cohort week × activity
    // week), distinct buyers, decimal-exact revenue, and the running
    // cumulative a finance read calls cohort LTV. The cumulative stays
    // in DECIMAL through the window (order-independent partials, one
    // cast+round per output row) so both engines agree bit-for-bit.
    // Two keyed aggregates + one cohort-partitioned window — the
    // q_cohort plan plus one window pass, nothing fact-scale after the
    // first aggregate.
    Query("q_user_ltv", ((s, dir) => {
      val o = t(s, dir, "orders")
      val first = o.groupBy(col("o_custkey"))
        .agg(date_trunc("week", min(col("o_orderdate")))
          .cast("timestamp_ntz").as("cohort_week"))
      val cell = o.select(col("o_custkey"),
          date_trunc("week", col("o_orderdate")).cast("timestamp_ntz")
            .as("week"),
          col("o_totalprice"))
        .join(first, Seq("o_custkey"))
        .groupBy(col("cohort_week"), col("week"))
        .agg(sum(col("o_totalprice").cast("decimal(28,10)")).as("rev_dec"),
          count_distinct(col("o_custkey")).as("n_buyers"))
      val w = Window.partitionBy(col("cohort_week")).orderBy(col("week"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cell.select(col("cohort_week"), col("week"), col("n_buyers"),
          round(col("rev_dec").cast("double"), 4).as("revenue"),
          round(sum(col("rev_dec")).over(w).cast("double"), 4)
            .as("cum_revenue"))
        .orderBy("cohort_week", "week")
    }),
      """WITH f AS (
           SELECT o_custkey, date_trunc('week', min(o_orderdate))
             AS cohort_week
           FROM orders GROUP BY 1),
         cell AS (
           SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
             CAST(date_trunc('week', o.o_orderdate) AS TIMESTAMP) AS week,
             sum(CAST(o.o_totalprice AS DECIMAL(28,10))) AS rev_dec,
             CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_buyers
           FROM orders o JOIN f USING (o_custkey)
           GROUP BY 1, 2)
         SELECT cohort_week, week, n_buyers,
           ROUND(CAST(rev_dec AS DOUBLE), 4) AS revenue,
           ROUND(CAST(sum(rev_dec) OVER (
             PARTITION BY cohort_week ORDER BY week
             ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS cum_revenue
         FROM cell ORDER BY cohort_week, week"""),

    // ── Two-proportion z-test (A/B experiment read) ─────────────────────
    // Conversion-rate comparison between the two largest market segments
    // (tie-pinned), conversion = "customer has placed ≥1 urgent-priority
    // order": per-arm counts from one keyed left join + aggregate, then
    // the pooled two-proportion z-statistic. Everything up to the final
    // z is exact int64; z itself is one deterministic IEEE chain
    // (sqrt + divisions, rounded once at 6) and the significance bit
    // compares the ROUNDED z so a ulp can't flip the verdict. The
    // 1-row pivot rides a constant-key window, no scalar crossJoin.
    Query("q_ab_test", ((s, dir) => {
      val c = t(s, dir, "customer")
      val top2 = c.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
        .select(col("c_mktsegment"), col("cnt"),
          row_number().over(Window.partitionBy(pmod(col("cnt"), lit(1L)))
            .orderBy(desc("cnt"), asc("c_mktsegment"))).as("rn"))
        .where(col("rn") <= 2)
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey")).distinct()
        .withColumn("__hit", lit(1L))
      val arms = c
        .join(broadcast(top2.select(col("c_mktsegment"), col("rn"))),
          Seq("c_mktsegment"))
        .join(urgent, Seq("c_custkey"), "left")
        .groupBy(col("rn"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("conv"))
      val one = arms.select(
        max(when(col("rn") === 1, col("c_mktsegment")))
          .over(Window.partitionBy(pmod(col("rn"), lit(1L)))).as("segment_a"),
        max(when(col("rn") === 2, col("c_mktsegment")))
          .over(Window.partitionBy(pmod(col("rn"), lit(1L)))).as("segment_b"),
        max(when(col("rn") === 1, col("n")))
          .over(Window.partitionBy(pmod(col("rn"), lit(1L)))).as("n_a"),
        max(when(col("rn") === 2, col("n")))
          .over(Window.partitionBy(pmod(col("rn"), lit(1L)))).as("n_b"),
        max(when(col("rn") === 1, col("conv")))
          .over(Window.partitionBy(pmod(col("rn"), lit(1L)))).as("conv_a"),
        max(when(col("rn") === 2, col("conv")))
          .over(Window.partitionBy(pmod(col("rn"), lit(1L)))).as("conv_b"))
        .limit(1)
      val pA = col("conv_a").cast("double") / col("n_a")
      val pB = col("conv_b").cast("double") / col("n_b")
      val pp = (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b"))
      val z = (pA - pB) / sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
      one.select(col("segment_a"), col("segment_b"),
        col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        round(pA, 6).as("p_a"), round(pB, 6).as("p_b"),
        round(z, 6).as("z"),
        (abs(round(z, 6)) >= 1.96).as("significant"))
    }),
      """WITH sc AS (
           SELECT c_mktsegment, count(*) AS cnt FROM customer GROUP BY 1),
         top2 AS (
           SELECT c_mktsegment, rn FROM (
             SELECT c_mktsegment,
               row_number() OVER (ORDER BY cnt DESC, c_mktsegment) AS rn
             FROM sc) WHERE rn <= 2),
         u AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderpriority = '1-URGENT'),
         arms AS (
           SELECT t.rn, t.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN u.o_custkey IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS conv
           FROM customer c
           JOIN top2 t USING (c_mktsegment)
           LEFT JOIN u ON c.c_custkey = u.o_custkey
           GROUP BY 1, 2),
         one AS (
           SELECT max(CASE WHEN rn = 1 THEN c_mktsegment END) AS segment_a,
             max(CASE WHEN rn = 2 THEN c_mktsegment END) AS segment_b,
             max(CASE WHEN rn = 1 THEN n END) AS n_a,
             max(CASE WHEN rn = 2 THEN n END) AS n_b,
             max(CASE WHEN rn = 1 THEN conv END) AS conv_a,
             max(CASE WHEN rn = 2 THEN conv END) AS conv_b
           FROM arms)
         SELECT segment_a, segment_b, n_a, conv_a, n_b, conv_b,
           ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS p_a,
           ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS p_b,
           ROUND((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)), 6)
             AS z,
           abs(ROUND((CAST(conv_a AS DOUBLE) / n_a
                      - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)), 6))
             >= 1.96 AS significant
         FROM one"""),

    // ── CUPED variance reduction (experimentation family) ───────────────
    // The modern A/B-test read: per-user post-period metric (purchase
    // value) adjusted by the pre-period covariate (view value) via
    // y′ = y − θ·(x − x̄), θ = cov(x,y)/var(x) pooled — the deterministic
    // control-variate that shrinks metric variance by ρ² without touching
    // the treatment-effect estimate. Arms are a deterministic h60 split
    // of user_id (replayable in any engine). Two keyed per-user
    // aggregates + one 1-row pooled-moments crossJoin (the q_mi scalar
    // pattern); every accumulation decimal-exact, θ/x̄ one IEEE chain
    // from exact sums, rounded only at the edge. At 100 TB the per-user
    // aggregate is the only data-scale exchange.
    Query("q_cuped", ((s, dir) => {
      val dec = "decimal(30,10)"
      val per = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "view", col("value"))
            .otherwise(lit(0.0)).cast(dec)).cast("double").as("x"),
          sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0)).cast(dec)).cast("double").as("y"))
        .select(pmod(Hashes.h60(col("user_id").cast("string")), lit(2L))
          .as("arm"), col("x"), col("y"))
      val st = per.agg(count(lit(1)).as("n"),
          sum(col("x").cast(dec)).cast("double").as("sx"),
          sum(col("y").cast(dec)).cast("double").as("sy"),
          sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"),
          sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
          sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"))
        .select(
          ((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
            / (col("n").cast("double") * col("sxx") - col("sx") * col("sx")))
            .as("theta"),
          (col("sx") / col("n").cast("double")).as("xbar"),
          (col("n").cast("double") * col("sxx") - col("sx") * col("sx"))
            .as("sxxc"),
          (col("n").cast("double") * col("syy") - col("sy") * col("sy"))
            .as("syyc"))
      per.crossJoin(broadcast(st)) // 1-row pooled moments
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("y").cast(dec)).cast("double")
            / count(lit(1)), 6).as("mean_y"),
          round(sum((col("y") - col("theta") * (col("x") - col("xbar")))
            .cast(dec)).cast("double") / count(lit(1)), 6).as("mean_y_adj"),
          round(max(col("theta")), 6).as("theta"),
          round(max(col("theta")) * max(col("theta")) * max(col("sxxc"))
            / max(col("syyc")), 6).as("var_reduction"))
        .orderBy("arm")
    }),
      // same decimal-exact per-user sums, pooled moments, and one IEEE
      // θ/x̄ chain; arm = h60(user_id) % 2 replayed verbatim.
      s"""WITH per AS (
           SELECT user_id,
             CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value
                           ELSE 0.0 END AS DECIMAL(30,10))) AS DOUBLE) AS x,
             CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                           ELSE 0.0 END AS DECIMAL(30,10))) AS DOUBLE) AS y
           FROM events GROUP BY user_id),
         pa AS (
           SELECT ${Hashes.h60Sql("CAST(user_id AS VARCHAR)")} % 2 AS arm,
             x, y FROM per),
         st AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(30,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(30,10))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(30,10))) AS DOUBLE) AS syy
           FROM pa),
         th AS (
           SELECT
             (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx) AS theta,
             sx / CAST(n AS DOUBLE) AS xbar,
             (CAST(n AS DOUBLE) * sxx - sx * sx) AS sxxc,
             (CAST(n AS DOUBLE) * syy - sy * sy) AS syyc
           FROM st)
         SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(CAST(y AS DECIMAL(30,10))) AS DOUBLE)
             / count(*), 6) AS mean_y,
           ROUND(CAST(SUM(CAST(y - theta * (x - xbar) AS DECIMAL(30,10)))
             AS DOUBLE) / count(*), 6) AS mean_y_adj,
           ROUND(MAX(theta), 6) AS theta,
           ROUND(MAX(theta) * MAX(theta) * MAX(sxxc) / MAX(syyc), 6)
             AS var_reduction
         FROM pa, th GROUP BY arm ORDER BY arm"""),

    // ── Cohen's d effect size (the "is it LARGE" read next to q_ab_test's
    // "is it significant"): standardized mean difference of per-user
    // purchase value between the h60 arms, d = (μ_a − μ_b)/s_pooled with
    // the Bessel-corrected pooled SD. Per-arm decimal moment sums from
    // ONE keyed aggregate; d is one IEEE chain on the 2-row pivot
    // (constant-key window over 2 rows — the q_ab_test shape).
    Query("q_cohend", ((s, dir) => {
      val dec = "decimal(30,10)"
      val arms = Tables.events(s, dir, widen = false)
        .where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(col("value").cast(dec)).cast("double").as("y"))
        .select(pmod(Hashes.h60(col("user_id").cast("string")), lit(2L))
          .as("arm"), col("y"))
        .groupBy(col("arm"))
        .agg(count(lit(1)).as("n"),
          sum(col("y").cast(dec)).cast("double").as("sy"),
          sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"))
      val W1 = Window.partitionBy(pmod(col("arm"), lit(1L)))
      val one = arms.select(
          max(when(col("arm") === 0, col("n"))).over(W1).as("n_a"),
          max(when(col("arm") === 1, col("n"))).over(W1).as("n_b"),
          max(when(col("arm") === 0, col("sy"))).over(W1).as("sy_a"),
          max(when(col("arm") === 1, col("sy"))).over(W1).as("sy_b"),
          max(when(col("arm") === 0, col("syy"))).over(W1).as("syy_a"),
          max(when(col("arm") === 1, col("syy"))).over(W1).as("syy_b"))
        .limit(1)
      val na = col("n_a").cast("double")
      val nb = col("n_b").cast("double")
      val ma = col("sy_a") / na
      val mb = col("sy_b") / nb
      val ssa = col("syy_a") - col("sy_a") * col("sy_a") / na
      val ssb = col("syy_b") - col("sy_b") * col("sy_b") / nb
      val sp = sqrt((ssa + ssb) / (na + nb - 2))
      one.select(col("n_a"), col("n_b"),
        round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
        round(sp, 6).as("sd_pooled"),
        round((ma - mb) / sp, 6).as("cohen_d"))
    }),
      s"""WITH per AS (
           SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS y
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         pa AS (
           SELECT ${Hashes.h60Sql("CAST(user_id AS VARCHAR)")} % 2 AS arm,
             y FROM per),
         arms AS (
           SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(30,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(y * y AS DECIMAL(30,10))) AS DOUBLE) AS syy
           FROM pa GROUP BY arm),
         one AS (
           SELECT max(CASE WHEN arm = 0 THEN n END) AS n_a,
             max(CASE WHEN arm = 1 THEN n END) AS n_b,
             max(CASE WHEN arm = 0 THEN sy END) AS sy_a,
             max(CASE WHEN arm = 1 THEN sy END) AS sy_b,
             max(CASE WHEN arm = 0 THEN syy END) AS syy_a,
             max(CASE WHEN arm = 1 THEN syy END) AS syy_b
           FROM arms),
         k AS (
           SELECT n_a, n_b,
             sy_a / CAST(n_a AS DOUBLE) AS ma,
             sy_b / CAST(n_b AS DOUBLE) AS mb,
             sqrt(((syy_a - sy_a * sy_a / CAST(n_a AS DOUBLE))
                 + (syy_b - sy_b * sy_b / CAST(n_b AS DOUBLE)))
               / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2)) AS sp
           FROM one)
         SELECT n_a, n_b, ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
           ROUND(sp, 6) AS sd_pooled,
           ROUND((ma - mb) / sp, 6) AS cohen_d
         FROM k"""),

    // ── Delta-method CI for a RATIO metric (revenue per session-day) ────
    // The experimentation pitfall q_ab_test sidesteps: a ratio of two
    // per-user sums (Σ purchase value / Σ active days) is NOT a mean of
    // i.i.d. user values, so its variance needs the delta method:
    // var(ȳ/x̄) ≈ (var_y − 2R·cov + R²·var_x)/(n·x̄²). Per-arm moment
    // sums (y, x, y², x², xy) decimal-exact from one keyed aggregate;
    // ratio, SE, and the ±1.96 CI are one double chain per arm row.
    Query("q_delta_ratio", ((s, dir) => {
      val dec = "decimal(30,10)"
      val per = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0)).cast(dec)).cast("double").as("y"),
          count_distinct(expr(
            "unix_micros(cast(ts as timestamp)) div 86400000000"))
            .cast("double").as("x"))
        .select(pmod(Hashes.h60(col("user_id").cast("string")), lit(2L))
          .as("arm"), col("x"), col("y"))
      val m = per.groupBy(col("arm")).agg(
        count(lit(1)).as("n"),
        sum(col("y").cast(dec)).cast("double").as("sy"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"),
        sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"))
      val nd = col("n").cast("double")
      val mx = col("sx") / nd
      val my = col("sy") / nd
      val vy = (col("syy") - col("sy") * col("sy") / nd) / (nd - 1)
      val vx = (col("sxx") - col("sx") * col("sx") / nd) / (nd - 1)
      val cxy = (col("sxy") - col("sx") * col("sy") / nd) / (nd - 1)
      val ratio = my / mx
      val se = sqrt((vy - lit(2.0) * ratio * cxy + ratio * ratio * vx) /
        (nd * mx * mx))
      m.select(col("arm"), col("n"),
          round(ratio, 6).as("ratio"),
          round(se, 6).as("se"),
          round(ratio - lit(1.96) * se, 6).as("ci_lo"),
          round(ratio + lit(1.96) * se, 6).as("ci_hi"))
        .orderBy("arm")
    }),
      s"""WITH per AS (
           SELECT user_id,
             CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value
                           ELSE 0.0 END AS DECIMAL(30,10))) AS DOUBLE) AS y,
             CAST(count(DISTINCT epoch_us(ts) // 86400000000) AS DOUBLE)
               AS x
           FROM events GROUP BY user_id),
         pa AS (
           SELECT ${Hashes.h60Sql("CAST(user_id AS VARCHAR)")} % 2 AS arm,
             x, y FROM per),
         m AS (
           SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(30,10))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y * y AS DECIMAL(30,10))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * x AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(30,10))) AS DOUBLE) AS sxy
           FROM pa GROUP BY arm),
         k AS (
           SELECT arm, n,
             sx / CAST(n AS DOUBLE) AS mx,
             sy / CAST(n AS DOUBLE) AS my,
             (syy - sy * sy / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1) AS vy,
             (sxx - sx * sx / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1) AS vx,
             (sxy - sx * sy / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1) AS cxy
           FROM m),
         r AS (
           SELECT arm, n, my / mx AS ratio,
             sqrt((vy - CAST(2.0 AS DOUBLE) * (my / mx) * cxy
                 + (my / mx) * (my / mx) * vx)
               / (CAST(n AS DOUBLE) * mx * mx)) AS se
           FROM k)
         SELECT arm, n, ROUND(ratio, 6) AS ratio, ROUND(se, 6) AS se,
           ROUND(ratio - CAST(1.96 AS DOUBLE) * se, 6) AS ci_lo,
           ROUND(ratio + CAST(1.96 AS DOUBLE) * se, 6) AS ci_hi
         FROM r ORDER BY arm"""),

    // ── Sample-ratio mismatch check (experiment hygiene) ────────────────
    // The gate that runs BEFORE any A/B metric is read: a 50/50 h60
    // assignment whose realized arm counts drift is a broken bucketer or
    // a differential-logging bug, and every downstream read is invalid.
    // χ² for two equal-expectation cells reduces to (n_a−n_b)²/(n_a+n_b)
    // — exact int64 numerator, one double division, flag compared on the
    // ROUNDED value (the q_ab_test discipline). One distinct + one
    // aggregate; no joins at all.
    Query("q_srm", ((s, dir) => {
      val arms = Tables.events(s, dir).select(col("user_id")).distinct()
        .select(pmod(Hashes.h60(col("user_id").cast("string")), lit(2L))
          .as("arm"))
      arms.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
        .select(col("n_a"), col("n_b"),
          round(((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
            .cast("double") / (col("n_a") + col("n_b")), 6).as("chi2"))
        .select(col("n_a"), col("n_b"), col("chi2"),
          (col("chi2") >= lit(3.841459)).as("srm"))
    }),
      s"""WITH arms AS (
           SELECT ${Hashes.h60Sql("CAST(user_id AS VARCHAR)")} % 2 AS arm
           FROM (SELECT DISTINCT user_id FROM events)),
         c AS (
           SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
           FROM arms),
         x AS (
           SELECT n_a, n_b,
             ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
               / (n_a + n_b), 6) AS chi2
           FROM c)
         SELECT n_a, n_b, chi2, chi2 >= 3.841459 AS srm FROM x"""),

    // ── Time-series gap fill (dense bucket grid + zero-filled holes) ────
    // Event counts on a dense 10-minute grid: bucket indices in exact
    // epoch-micros integer arithmetic (timestamps only at the output
    // edge, the q_burst_coverage contract), the grid generated from the
    // 1-row min/max bounds via sequence()+explode — a generator, not a
    // stored calendar table — and one keyed left join marks the holes.
    // The "no row ≠ zero" fix every downstream window/anomaly pass
    // needs. At 100 TB the grid is span/bucket rows (time-bounded, not
    // data-bounded) and the join stays keyed on the bucket index.
    Query("q_gapfill", ((s, dir) => {
      val bucketUs = 600L * 1000000L
      val perB = Tables.events(s, dir)
        .select(expr(s"unix_micros(cast(ts as timestamp)) div $bucketUs")
          .as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("n"))
      val grid = perB.agg(min("b").as("b0"), max("b").as("b1"))
        .select(explode(sequence(col("b0"), col("b1"))).as("b"))
      grid.join(perB, Seq("b"), "left")
        .select(
          timestamp_micros(col("b") * bucketUs).cast("timestamp_ntz")
            .as("bucket"),
          coalesce(col("n"), lit(0L)).as("n"),
          col("n").isNull.as("is_gap"))
        .orderBy("bucket")
    }),
      """WITH perb AS (
           SELECT epoch_us(ts) // 600000000 AS b,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1),
         bounds AS (SELECT min(b) AS b0, max(b) AS b1 FROM perb),
         grid AS (SELECT unnest(generate_series(b0, b1)) AS b FROM bounds)
         SELECT make_timestamp(g.b * 600000000) AS bucket,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n,
           p.n IS NULL AS is_gap
         FROM grid g LEFT JOIN perb p USING (b)
         ORDER BY bucket"""),

    // ── Week-over-week audience churn (consecutive-week Jaccard) ────────
    // How much of each week's audience is still there next week: per
    // adjacent week pair, both-weeks users (ONE user-keyed self-join on
    // the shifted week index — never a set comparison per pair), each
    // week's audience, Jaccard, and the forward retention share. Week
    // indices in exact epoch arithmetic; timestamps at the edge.
    // ── Lorenz curve of customer revenue (concentration table) ──────────
    // L(q) = share of total revenue held by the bottom q of customers,
    // q ∈ {0.1..0.9} — the concentration read behind q_theil/q_hill_tail,
    // as the table a sampling-design review actually consults. Customers
    // rank globally by revenue on Ranks.globalRank (the distributed
    // order-statistics kernel — no single-task all-data sort); the nine
    // cumulative sums are conditional DECIMAL aggregates in ONE pass over
    // the ranked relation (r ≤ ⌈q·n⌉ against the carried total), so the
    // decile table costs one aggregate regardless of customer count.
    Query("q_lorenz", ((s, dir) => {
      val dec = "decimal(30,10)"
      val rev = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(dec)).as("rev"))
      val ranks = graft.ops.Ranks.globalRank(
        rev, col("rev"), col("o_custkey"))
      val aggCols = (1 to 9).map(i =>
        sum(when(col("r") <= ceil(lit(i / 10.0) * col("n")), col("x"))
          .otherwise(lit(0).cast(dec))).as(s"c$i")) ++
        Seq(sum(col("x")).as("tot"), max(col("n")).as("n"))
      val agg = ranks.agg(aggCols.head, aggCols.tail: _*)
      agg.select(
          explode(array((1 to 9).map(i =>
            struct(lit(i / 10.0).as("q"), col(s"c$i").as("cum"))): _*))
            .as("s"), col("tot"), col("n"))
        .select(col("s.q").as("q"),
          ceil(col("s.q") * col("n")).cast("long").as("n_cust"),
          round(col("s.cum").cast("double") / col("tot").cast("double"), 6)
            .as("rev_share"))
        .orderBy("q")
    }),
      """WITH rev AS (SELECT o_custkey,
            SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS rev
          FROM orders GROUP BY 1),
         r AS (SELECT rev AS x,
            row_number() OVER (ORDER BY rev, o_custkey) AS r,
            count(*) OVER () AS n
          FROM rev),
         tq AS (SELECT CAST(q AS DOUBLE) AS q
          FROM (SELECT unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q)),
         a AS (SELECT tq.q,
            CAST(ceil(tq.q * (SELECT max(n) FROM r)) AS BIGINT) AS n_cust,
            SUM(CASE WHEN r.r <= ceil(tq.q * (SELECT max(n) FROM r))
              THEN x ELSE CAST(0 AS DECIMAL(30,10)) END) AS cum
          FROM tq CROSS JOIN r GROUP BY 1, 2),
         tot AS (SELECT SUM(x) AS tot FROM r)
         SELECT q, n_cust,
           ROUND(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS rev_share
         FROM a CROSS JOIN tot ORDER BY q"""),

    // ── Weekly growth accounting (new / retained / resurrected / churn) ─
    // The MAU-accounting decomposition behind q_new_returning and
    // q_week_churn: per week, actives split into first-ever (new), also
    // active last week (retained), and returning after a gap
    // (resurrected) — plus last week's actives who went silent (churned).
    // new + retained + resurrected = active, the identity the report
    // audits. Plan: the distinct (user, week) relation full-outer-joined
    // with its own one-week shift on presence MARKERS (the Merge.upsert
    // NULL-safe discipline), first-seen joined back KEYED on user — no
    // broadcast hint on a user-scale relation (VERDICT r13 #1).
    Query("q_growth_accounting", ((s, dir) => {
      val weekUs = 7L * 86400L * 1000000L
      val uw = Tables.events(s, dir)
        .select(col("user_id"),
          expr(s"unix_micros(cast(ts as timestamp)) div $weekUs").as("w"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val first = uw.groupBy(col("user_id")).agg(min(col("w")).as("w0"))
      val cur = uw.withColumn("c", lit(1))
      val prev = uw.select(col("user_id"), (col("w") + 1L).as("w"))
        .withColumn("p", lit(1))
      cur.join(prev, Seq("user_id", "w"), "full_outer")
        .join(first, Seq("user_id"))
        .groupBy(col("w"))
        .agg(
          sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("n_active"),
          sum(when(col("c").isNotNull && col("w0") === col("w"), 1L)
            .otherwise(0L)).as("n_new"),
          sum(when(col("c").isNotNull && col("p").isNotNull, 1L)
            .otherwise(0L)).as("n_retained"),
          sum(when(col("c").isNotNull && col("p").isNull &&
            col("w0") < col("w"), 1L).otherwise(0L)).as("n_resurrected"),
          sum(when(col("p").isNotNull && col("c").isNull, 1L)
            .otherwise(0L)).as("n_churned"))
        .select(
          timestamp_micros(col("w") * weekUs).cast("timestamp_ntz")
            .as("week"),
          col("n_active"), col("n_new"), col("n_retained"),
          col("n_resurrected"), col("n_churned"))
        .orderBy("week")
    }),
      """WITH uw AS (
           SELECT DISTINCT user_id,
             epoch_us(ts) // 604800000000 AS w
           FROM events),
         fst AS (SELECT user_id, min(w) AS w0 FROM uw GROUP BY 1),
         cur AS (SELECT user_id, w, 1 AS c FROM uw),
         prv AS (SELECT user_id, w + 1 AS w, 1 AS p FROM uw),
         j AS (SELECT COALESCE(cur.user_id, prv.user_id) AS user_id,
             COALESCE(cur.w, prv.w) AS w, cur.c, prv.p
           FROM cur FULL OUTER JOIN prv
             ON cur.user_id = prv.user_id AND cur.w = prv.w),
         g AS (SELECT j.w,
             CAST(SUM(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_active,
             CAST(SUM(CASE WHEN c IS NOT NULL AND f.w0 = j.w
               THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN c IS NOT NULL AND p IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN c IS NOT NULL AND p IS NULL AND f.w0 < j.w
               THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
             CAST(SUM(CASE WHEN p IS NOT NULL AND c IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
           FROM j JOIN fst f ON f.user_id = j.user_id GROUP BY 1)
         SELECT make_timestamp(w * 604800000000) AS week,
           n_active, n_new, n_retained, n_resurrected, n_churned
         FROM g ORDER BY week"""),

    Query("q_week_churn", ((s, dir) => {
      val weekUs = 7L * 86400L * 1000000L
      val uw = Tables.events(s, dir, widen = false)
        .select(col("user_id"),
          expr(s"unix_micros(cast(ts as timestamp)) div $weekUs").as("w"))
        .distinct()
      val sizes = uw.groupBy(col("w")).agg(count(lit(1)).as("n"))
      val both = uw
        .join(uw.select(col("user_id"), (col("w") - 1L).as("w")),
          Seq("user_id", "w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n_both"))
      sizes.select(col("w"), col("n").as("n_this"))
        .join(sizes.select((col("w") - 1L).as("w"), col("n").as("n_next")),
          Seq("w"))
        .join(both, Seq("w"), "left")
        .select(
          timestamp_micros(col("w") * weekUs).cast("timestamp_ntz")
            .as("week"),
          col("n_this"), col("n_next"),
          coalesce(col("n_both"), lit(0L)).as("n_both"),
          round(coalesce(col("n_both"), lit(0L)).cast("double") /
            (col("n_this") + col("n_next")
              - coalesce(col("n_both"), lit(0L))), 6).as("jaccard"),
          round(coalesce(col("n_both"), lit(0L)).cast("double") /
            col("n_this"), 6).as("retention"))
        .orderBy("week")
    }),
      """WITH uw AS (
           SELECT DISTINCT user_id,
             epoch_us(ts) // 604800000000 AS w
           FROM events),
         sz AS (SELECT w, CAST(count(*) AS BIGINT) AS n
                FROM uw GROUP BY w),
         bw AS (
           SELECT a.w, CAST(count(*) AS BIGINT) AS n_both
           FROM uw a JOIN uw b
             ON a.user_id = b.user_id AND b.w = a.w + 1
           GROUP BY a.w)
         SELECT make_timestamp(s1.w * 604800000000) AS week,
           s1.n AS n_this, s2.n AS n_next,
           CAST(COALESCE(b.n_both, 0) AS BIGINT) AS n_both,
           ROUND(CAST(COALESCE(b.n_both, 0) AS DOUBLE)
             / (s1.n + s2.n - COALESCE(b.n_both, 0)), 6) AS jaccard,
           ROUND(CAST(COALESCE(b.n_both, 0) AS DOUBLE) / s1.n, 6)
             AS retention
         FROM sz s1
         JOIN sz s2 ON s2.w = s1.w + 1
         LEFT JOIN bw b ON b.w = s1.w
         ORDER BY week"""),

    // ── Inter-order gap distribution (repeat-purchase cadence) ──────────
    // The cadence read behind replenishment and churn thresholds: days
    // between consecutive orders per customer (lag over the tie-pinned
    // per-customer order sequence, exact epoch-day arithmetic), then
    // exact median/p90, decimal mean, and the share of gaps beyond 90
    // days (an integer-threshold compare). One window + one aggregate.
    Query("q_order_gaps", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("day"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
            .as("day"), col("o_orderkey"))
        .select((col("day") - lag(col("day"), 1).over(W)).as("gap"))
        .where(col("gap").isNotNull)
        .agg(count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap, 0.5)"), 6).as("p50_days"),
          round(expr("percentile(gap, 0.9)"), 6).as("p90_days"),
          round(sum(col("gap").cast("decimal(28,10)")).cast("double") /
            count(lit(1)), 6).as("mean_days"),
          round(sum(when(col("gap") > 90L, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("share_gt_90d"))
    }),
      """WITH g AS (
           SELECT (epoch_us(o_orderdate) // 86400000000)
             - lag(epoch_us(o_orderdate) // 86400000000, 1) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS gap
           FROM orders)
         SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap, 0.5), 6) AS p50_days,
           ROUND(quantile_cont(gap, 0.9), 6) AS p90_days,
           ROUND(CAST(sum(CAST(gap AS DECIMAL(28,10))) AS DOUBLE)
             / count(*), 6) AS mean_days,
           ROUND(CAST(sum(CASE WHEN gap > 90 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS share_gt_90d
         FROM g WHERE gap IS NOT NULL"""),

    // ── Audience-overlap matrix (distinct-user Jaccard per type pair) ───
    // How much do event types share users? Per unordered type pair:
    // both-audiences count, each side's audience, exact Jaccard. The
    // pair relation comes from a user-keyed self-join of the DISTINCT
    // (type, user) relation — each user contributes at most C(5,2)=10
    // pairs, so candidates are 10N not N², and the size attach is two
    // keyed joins onto the 5-row audience relation. The segmentation
    // read behind "are clickers and purchasers the same people".
    Query("q_audience_overlap", ((s, dir) => {
      val tu = Tables.events(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
      val sizes = tu.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
      tu.as("a").join(tu.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
        .join(broadcast(sizes.select(col("event_type").as("type_a"),
          col("n").as("n_a"))), Seq("type_a"))
        .join(broadcast(sizes.select(col("event_type").as("type_b"),
          col("n").as("n_b"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("n_both"),
          round(col("n_both").cast("double") /
            (col("n_a") + col("n_b") - col("n_both")), 6).as("jaccard"))
        .orderBy("type_a", "type_b")
    }),
      """WITH tu AS (
           SELECT DISTINCT event_type, user_id FROM events),
         sz AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n
           FROM tu GROUP BY 1),
         pairs AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
           FROM tu a JOIN tu b
             ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
           ROUND(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both), 6)
             AS jaccard
         FROM pairs
         JOIN sz sa ON type_a = sa.event_type
         JOIN sz sb ON type_b = sb.event_type
         ORDER BY type_a, type_b"""),

    // ── First/last-touch conversion attribution ─────────────────────────
    // For every purchase event: the user's FIRST preceding non-purchase
    // touch and the LAST one strictly before the conversion — the two
    // marketing-attribution extremes — then conversion counts and
    // decimal-exact value per (first_touch, last_touch) cell. One
    // user-partitioned window pass (ignoreNulls first/last over the
    // unbounded-to-−1 frame, tie-pinned by event_id), one aggregate;
    // never a self-join per conversion. Cold-start purchases (no prior
    // touch) surface as 'none' per the no-NULL output rule.
    Query("q_attribution", ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"),
          first(touch, ignoreNulls = true).over(w).as("ft"),
          last(touch, ignoreNulls = true).over(w).as("lt"))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("ft"), lit("none")).as("first_touch"),
          coalesce(col("lt"), lit("none")).as("last_touch"))
        .agg(count(lit(1)).as("n_conversions"),
          Exact.roundSum(col("value")).as("sum_value"))
        .orderBy("first_touch", "last_touch")
    }),
      """WITH t AS (
           SELECT event_type, value,
             first_value(CASE WHEN event_type <> 'purchase'
                           THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS ft,
             last_value(CASE WHEN event_type <> 'purchase'
                          THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lt
           FROM events)
         SELECT COALESCE(ft, 'none') AS first_touch,
           COALESCE(lt, 'none') AS last_touch,
           CAST(count(*) AS BIGINT) AS n_conversions,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 4)
             AS sum_value
         FROM t WHERE event_type = 'purchase'
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ── Event-type transition matrix (first-order Markov estimate) ──────
    // (state → next state) counts over each user's tie-pinned event
    // sequence, with sequence ends folded to the absorbing 'end' state,
    // and row-normalized transition probabilities. One lead() window
    // pass + one aggregate + one from-state-partitioned share window
    // over the |states|² relation — the user-behavior kernel session
    // simulators and next-event models start from.
    // ── Sequential probability ratio test per event type (SPRT) ─────────
    // The always-valid sequential monitor the fixed-horizon q_ab_test
    // family can't give: per event type, each event is a Bernoulli trial
    // (value > 35), H₀ p=0.45 vs H₁ p=0.55, and the Wald LLR walk
    // ln(.55/.45)·(2h−k) is tracked to the ±ln 19 boundaries (α=β=0.05).
    // The log-ratio constant is QUANTIZED to 0.200671 (= round(ln(11/9),
    // 6)) and the boundary to 2.944439, so the walk is an exact
    // decimal·integer product both engines replay bit-equal; first
    // boundary crossing and the closing LLR come from one per-type
    // ordered window (sequential testing is inherently a per-stream
    // ordered scan — type count is bounded, and at production scale this
    // exact recurrence is the streaming monitor's state update).
    Query("q_sprt", ((s, dir) => {
      val c1 = lit(new java.math.BigDecimal("0.200671"))
      val bnd = lit(new java.math.BigDecimal("2.944439"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val r = Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          when(col("value") > 35.0, 1L).otherwise(0L).as("hit"))
        .select(col("event_type"),
          row_number().over(w).cast("long").as("k"),
          sum(col("hit")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("h"))
        .withColumn("llr", c1 * (lit(2L) * col("h") - col("k")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val crossed = r.where(col("llr") >= bnd || col("llr") <= -bnd)
        .groupBy(col("event_type"))
        .agg(min(struct(col("k"), col("llr"))).as("fc"))
      val fin = r.groupBy(col("event_type"))
        .agg(max(col("k")).as("n_events"),
          max(struct(col("k"), col("llr"))).getField("llr").as("llr_fin"))
      fin.join(crossed, Seq("event_type"), "left")
        .select(col("event_type"), col("n_events"),
          coalesce(col("fc.k"), lit(-1L)).as("first_cross_k"),
          when(col("fc").isNull, "continue")
            .when(col("fc.llr") > 0, "accept_h1")
            .otherwise("accept_h0").as("decision"),
          round(col("llr_fin").cast("double"), 6).as("llr_final"))
        .orderBy("event_type")
    }),
      """WITH ev AS (SELECT event_type, ts, event_id,
             CASE WHEN value > 35.0 THEN 1 ELSE 0 END AS hit FROM events),
         r AS (SELECT event_type,
             row_number() OVER (PARTITION BY event_type
               ORDER BY ts, event_id) AS k,
             SUM(hit) OVER (PARTITION BY event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS h
           FROM ev),
         l AS (SELECT event_type, k,
             CAST(0.200671 AS DECIMAL(12,6)) * (2*h - k) AS llr FROM r),
         c AS (SELECT event_type, min(k) AS first_cross_k FROM l
           WHERE llr >= CAST(2.944439 AS DECIMAL(12,6))
              OR llr <= -CAST(2.944439 AS DECIMAL(12,6)) GROUP BY 1),
         cd AS (SELECT l.event_type, c.first_cross_k, l.llr AS cross_llr
           FROM c JOIN l ON l.event_type = c.event_type
             AND l.k = c.first_cross_k),
         f AS (SELECT event_type, max(k) AS n_events FROM l GROUP BY 1),
         fl AS (SELECT l.event_type, f.n_events, l.llr AS llr_final
           FROM f JOIN l ON l.event_type = f.event_type
             AND l.k = f.n_events)
         SELECT fl.event_type, fl.n_events,
           COALESCE(cd.first_cross_k, -1) AS first_cross_k,
           CASE WHEN cd.first_cross_k IS NULL THEN 'continue'
             WHEN cd.cross_llr > 0 THEN 'accept_h1'
             ELSE 'accept_h0' END AS decision,
           ROUND(CAST(fl.llr_final AS DOUBLE), 6) AS llr_final
         FROM fl LEFT JOIN cd ON cd.event_type = fl.event_type
         ORDER BY fl.event_type"""),

    // ── Markov stationary distribution (3-step power iteration) ─────────
    // Where does user attention settle: q_markov_chain's row-normalized
    // transition matrix (end-state transitions dropped — conditioning on
    // continuation), uniform start, three exact power-iteration steps.
    // Matrix cells and π components quantize DECIMAL(12,6) each step
    // (products accumulate in DECIMAL(24,12) — order-free), so both
    // engines walk the identical vector. The data-scale work is the ONE
    // lead()+aggregate building the matrix; the iteration runs on the
    // |types|² relation.
    Query("q_markov_stationary", ((s, dir) => {
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val dec6 = "decimal(12,6)"
      val p = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(wU).as("to_type"))
        .where(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("from_type"), col("to_type"),
          round(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("from_type"))), 6)
            .cast(dec6).as("p"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val states = p.select(col("from_type").as("state")).distinct()
      val pi0 = states
        .crossJoin(broadcast(states.agg(count(lit(1)).as("ns")))) // 1 row
        .select(col("state"),
          round(lit(1.0) / col("ns"), 6).cast(dec6).as("pi"))
      val pi3 = (1 to 3).foldLeft(pi0) { (pi, _) =>
        p.join(pi, col("from_type") === col("state"))
          .groupBy(col("to_type"))
          .agg(round(sum((col("pi") * col("p")).cast("decimal(24,12)"))
            .cast("double"), 6).cast(dec6).as("pi"))
          .select(col("to_type").as("state"), col("pi"))
      }
      pi3.select(col("state"), col("pi").cast("double").as("pi3"))
        .orderBy("state")
    }),
      """WITH tr AS (SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         cnt AS (SELECT from_type, to_type, count(*) AS n FROM tr
           WHERE to_type IS NOT NULL GROUP BY 1, 2),
         p AS (SELECT from_type, to_type,
             CAST(ROUND(CAST(n AS DOUBLE) /
               SUM(n) OVER (PARTITION BY from_type), 6)
               AS DECIMAL(12,6)) AS p
           FROM cnt),
         s0 AS (SELECT DISTINCT from_type AS state FROM p),
         ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM s0),
         pi0 AS (SELECT state,
             CAST(ROUND(CAST(1 AS DOUBLE) / ns, 6) AS DECIMAL(12,6)) AS pi
           FROM s0 CROSS JOIN ns),
         pi1 AS (SELECT p.to_type AS state,
             CAST(ROUND(CAST(SUM(CAST(pi.pi * p.p AS DECIMAL(24,12)))
               AS DOUBLE), 6) AS DECIMAL(12,6)) AS pi
           FROM p JOIN pi0 pi ON pi.state = p.from_type GROUP BY 1),
         pi2 AS (SELECT p.to_type AS state,
             CAST(ROUND(CAST(SUM(CAST(pi.pi * p.p AS DECIMAL(24,12)))
               AS DOUBLE), 6) AS DECIMAL(12,6)) AS pi
           FROM p JOIN pi1 pi ON pi.state = p.from_type GROUP BY 1),
         pi3 AS (SELECT p.to_type AS state,
             CAST(ROUND(CAST(SUM(CAST(pi.pi * p.p AS DECIMAL(24,12)))
               AS DOUBLE), 6) AS DECIMAL(12,6)) AS pi
           FROM p JOIN pi2 pi ON pi.state = p.from_type GROUP BY 1)
         SELECT state, CAST(pi AS DOUBLE) AS pi3 FROM pi3 ORDER BY state"""),

    Query("q_markov_chain", ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("from_type"),
          coalesce(lead(col("event_type"), 1).over(w), lit("end"))
            .as("to_type"))
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      trans
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("from_type"))), 6)
            .as("p"))
        .orderBy("from_type", "to_type")
    }),
      """WITH seq AS (
           SELECT event_type AS from_type,
             COALESCE(lead(event_type, 1)
               OVER (PARTITION BY user_id ORDER BY ts, event_id), 'end')
               AS to_type
           FROM events),
         c AS (
           SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
           FROM seq GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type),
                 6) AS p
         FROM c ORDER BY from_type, to_type"""),

    // ── TPC-H Q5 shape (local supplier volume) ──────────────────────────
    // The canonical snowflake fact⋈fact⋈4-dim benchmark: revenue by
    // nation where the CUSTOMER and the SUPPLIER sit in the same nation
    // of one region, for one order-date year. All five joins are keyed —
    // lineitem⋈orders shuffles on orderkey, the co-location predicate
    // c_nationkey = s_nationkey rides the supplier equi-join, and the
    // fixed-cardinality nation/region dims (25/5 rows at ANY scale
    // factor) broadcast under AQE's size threshold unaided (no hints:
    // customer/supplier grow with sf — VERDICT r13 #1 discipline).
    // Date + region filters push to their scans; revenue folds DECIMAL.
    Query("q_tpch_q5", ((s, dir) => {
      val asia = tn(s, dir, "nation")
        .join(tn(s, dir, "region").where(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val c = tn(s, dir, "customer").select("c_custkey", "c_nationkey")
      val o = tn(s, dir, "orders")
        .where(col("o_orderdate") >=
            lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") <
            lit("1997-01-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val sup = tn(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      tn(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(asia, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(Exact.roundSum(
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    }),
      """SELECT n_name,
           ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(28,10))) AS DOUBLE), 4) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
           AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY 1 ORDER BY revenue DESC, n_name"""),

    // ── Kendall's τ-b between monthly revenue and monthly order count ───
    // The rank-correlation sibling of q_spearman that handles TIES
    // exactly: over the ≤|months|-row aggregated series, every a<b pair
    // classifies concordant/discordant/tied via exact DECIMAL and int64
    // compares (the q_mk_trend sign discipline — no doubles until the
    // final sqrt), then τ_b = (C−D)/√((n₀−t_x)(n₀−t_y)). The data-scale
    // work is the ONE monthly aggregate; the pair grid is |months|²-
    // bounded (the q_theil_sen pattern), never corpus-scale.
    Query("q_kendall_tau", ((s, dir) => {
      val m = t(s, dir, "orders")
        .groupBy(expr("unix_micros(cast(o_orderdate as timestamp))" +
          " div 2629800000000").as("m"))
        .agg(sum(col("o_totalprice").cast("decimal(30,10)")).as("rev"),
          count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pr = m.as("a").join(m.as("b"), col("a.m") < col("b.m"))
        .select(
          when(col("b.rev") > col("a.rev"), 1L)
            .when(col("b.rev") < col("a.rev"), -1L).otherwise(0L).as("cx"),
          when(col("b.cnt") > col("a.cnt"), 1L)
            .when(col("b.cnt") < col("a.cnt"), -1L).otherwise(0L).as("cy"))
      pr.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("cx") * col("cy") > 0, 1L).otherwise(0L)).as("c"),
          sum(when(col("cx") * col("cy") < 0, 1L).otherwise(0L)).as("d"),
          sum(when(col("cx") === 0L, 1L).otherwise(0L)).as("tx"),
          sum(when(col("cy") === 0L, 1L).otherwise(0L)).as("ty"))
        .select(col("n_pairs"), col("c").as("concordant"),
          col("d").as("discordant"),
          // Guard a fully-tied variable: (n₀−t_x)(n₀−t_y)=0 → τ_b NULL on
          // both engines (Spark's non-ANSI ÷0 is NULL, DuckDB's IEEE ÷0
          // is inf — the explicit guard makes them agree).
          round(when((col("n_pairs") - col("tx")) *
              (col("n_pairs") - col("ty")) > 0L,
            (col("c") - col("d")).cast("double") /
              sqrt(((col("n_pairs") - col("tx")) *
                (col("n_pairs") - col("ty"))).cast("double"))), 6)
            .as("tau_b"))
    }),
      """WITH m AS (SELECT epoch_us(o_orderdate) // 2629800000000 AS m,
            SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS rev,
            CAST(count(*) AS BIGINT) AS cnt
          FROM orders GROUP BY 1),
         p AS (SELECT
             CASE WHEN b.rev > a.rev THEN 1
               WHEN b.rev < a.rev THEN -1 ELSE 0 END AS cx,
             CASE WHEN b.cnt > a.cnt THEN 1
               WHEN b.cnt < a.cnt THEN -1 ELSE 0 END AS cy
           FROM m a JOIN m b ON a.m < b.m),
         ag AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN cx*cy > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c,
             CAST(SUM(CASE WHEN cx*cy < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS d,
             CAST(SUM(CASE WHEN cx = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS tx,
             CAST(SUM(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ty
           FROM p)
         SELECT n_pairs, c AS concordant, d AS discordant,
           ROUND(CASE WHEN (n_pairs - tx) * (n_pairs - ty) > 0
             THEN CAST(c - d AS DOUBLE)
               / sqrt(CAST((n_pairs - tx) * (n_pairs - ty) AS DOUBLE))
             END, 6) AS tau_b
         FROM ag"""),

    // ── Kaplan–Meier survival curve of user lifetime ─────────────────────
    // The censoring-correct retention read q_churn_hazard approximates:
    // per-user lifetime = last−first event in whole HOURS; users still
    // active in the final 6 hours of the study window are CENSORED (they
    // didn't churn — they ran out of observation; the fixture's tail-gap
    // median is ~7 h, so both arms are populated). Ŝ(t) = Π_{t'≤t}
    // (1 − d_t'/n_t') over event times. The data-scale work is ONE
    // per-user aggregate; the KM table itself is SPAN-bounded (≤ hours in
    // the study window at ANY corpus size — more users change the counts,
    // not the row count), so its ordered window is a bounded single
    // partition (the q_churn_hazard pmod idiom). Determinism: at-risk
    // counts are exact int64 prefix sums; each step's log-factor is one
    // IEEE chain quantized DECIMAL(20,10) so the cumulative product
    // (exp of the exact running decimal sum) is order-free; the
    // everyone-dies final step is floored at 1e-12 (rounds to 0) to keep
    // log finite on both engines.
    Query("q_kaplan_meier", ((s, dir) => {
      val per = Tables.events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("us"))
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      val end = per.agg(max(col("mx")).as("study_end"))
      val byT = per.crossJoin(broadcast(end)) // 1-row study end
        .select(expr("(mx - mn) div 3600000000").as("t"),
          (col("study_end") - col("mx") < lit(21600000000L))
            .as("censored"))
        .groupBy(col("t"))
        .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("d"),
          count(lit(1)).as("tot"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = byT.agg(sum(col("tot")).as("n_total"))
      // span-bounded single partition (see scaladoc): ≤ days-in-window rows
      val wPrev = Window.partitionBy(pmod(col("t"), lit(1L)))
        .orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy(pmod(col("t"), lit(1L)))
        .orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, 0)
      byT.crossJoin(broadcast(n)) // 1-row population total
        .select(col("t"), col("d"),
          (col("n_total") - coalesce(sum(col("tot")).over(wPrev), lit(0L)))
            .as("r"))
        .select(col("t"), col("d"), col("r"),
          sum(log(greatest(
              (col("r") - col("d")).cast("double") / col("r").cast("double"),
              lit(1e-12))).cast("decimal(20,10)")).over(wCum).as("ls"))
        .where(col("d") > 0)
        .select(col("t").as("t_hours"), col("r").as("n_at_risk"),
          col("d").as("n_events"),
          round(exp(col("ls").cast("double")), 6).as("survival"))
        .orderBy("t_hours")
    }),
      """WITH per AS (SELECT user_id, min(epoch_us(ts)) AS mn,
            max(epoch_us(ts)) AS mx
          FROM events GROUP BY 1),
         fin AS (SELECT max(mx) AS study_end FROM per),
         byt AS (SELECT (mx - mn) // 3600000000 AS t,
             CAST(SUM(CASE WHEN study_end - mx < 21600000000
               THEN 0 ELSE 1 END) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS tot
           FROM per CROSS JOIN fin GROUP BY 1),
         n AS (SELECT CAST(SUM(tot) AS BIGINT) AS n_total FROM byt),
         km AS (SELECT t, d,
             CAST(n_total - COALESCE(SUM(tot) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS r
           FROM byt CROSS JOIN n),
         st AS (SELECT t, d, r,
             SUM(CAST(ln(greatest(CAST(r - d AS DOUBLE) / r, 1e-12))
               AS DECIMAL(20,10))) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls
           FROM km)
         SELECT t AS t_hours, r AS n_at_risk, d AS n_events,
           ROUND(exp(CAST(ls AS DOUBLE)), 6) AS survival
         FROM st WHERE d > 0 ORDER BY t"""),

    // ── Isotonic (PAV) calibration of return rate vs discount ───────────
    // The monotone-fit calibrator a probability model runs before
    // deployment (q_nb_calibration reports buckets; this FIXES them):
    // weighted least-squares isotonic regression of P(returnflag='R')
    // on the discount bin via the minimax identity f(i) = max_{k≤i}
    // min_{j≥i} avg(k..j) — exactly the pool-adjacent-violators
    // solution, expressed as bounded relational algebra instead of the
    // sequential PAV sweep. The data-scale work is ONE binned aggregate;
    // the interval grid is |bins|²- and the solve |bins|³-bounded (11
    // discount bins at any corpus size). Determinism: interval averages
    // are single double divides of exact int64 range sums (prefix cums
    // on the pmod-bounded window), min/max over exact doubles.
    Query("q_isotonic", ((s, dir) => {
      val b = t(s, dir, "lineitem")
        .groupBy(round(col("l_discount") * 100).cast("int").as("i"))
        .agg(count(lit(1)).as("w"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wCum = Window.partitionBy(pmod(col("i"), lit(1)))
        .orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val p = b.select(col("i"), col("w"), col("y"),
        sum(col("w")).over(wCum).as("cw"),
        sum(col("y")).over(wCum).as("cy"))
      val iv = p.as("k").join(p.as("j"), col("k.i") <= col("j.i"))
        .select(col("k.i").as("k"), col("j.i").as("j"),
          ((col("j.cy") - col("k.cy") + col("k.y")).cast("double") /
            (col("j.cw") - col("k.cw") + col("k.w")).cast("double"))
            .as("a"))
      val fit = b.select(col("i"))
        .join(iv, col("k") <= col("i") && col("i") <= col("j"))
        .groupBy(col("i"), col("k")).agg(min(col("a")).as("mn"))
        .groupBy(col("i")).agg(max(col("mn")).as("iso"))
      b.join(fit, Seq("i"))
        .select(col("i").as("discount_pct"), col("w").as("n"),
          round(col("y").cast("double") / col("w").cast("double"), 6)
            .as("raw_rate"),
          round(col("iso"), 6).as("iso_rate"))
        .orderBy("discount_pct")
    }),
      """WITH b AS (SELECT CAST(round(l_discount * 100, 0) AS INT) AS i,
            CAST(count(*) AS BIGINT) AS w,
            CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
          FROM lineitem GROUP BY 1),
         p AS (SELECT i, w, y,
             CAST(SUM(w) OVER (ORDER BY i) AS BIGINT) AS cw,
             CAST(SUM(y) OVER (ORDER BY i) AS BIGINT) AS cy
           FROM b),
         iv AS (SELECT k.i AS k, j.i AS j,
             CAST(j.cy - k.cy + k.y AS DOUBLE)
               / CAST(j.cw - k.cw + k.w AS DOUBLE) AS a
           FROM p k JOIN p j ON k.i <= j.i),
         mn AS (SELECT b.i, iv.k, min(iv.a) AS mn
           FROM b JOIN iv ON iv.k <= b.i AND b.i <= iv.j GROUP BY 1, 2),
         f AS (SELECT i, max(mn) AS iso FROM mn GROUP BY 1)
         SELECT b.i AS discount_pct, b.w AS n,
           ROUND(CAST(b.y AS DOUBLE) / CAST(b.w AS DOUBLE), 6) AS raw_rate,
           ROUND(f.iso, 6) AS iso_rate
         FROM b JOIN f USING (i) ORDER BY discount_pct"""),

    // ── EWMA control chart over the hourly event series ──────────────────
    // The small-shift detector next to q_cusum_break's changepoint: per
    // type, the λ=0.2 exponentially-weighted moving average of hourly
    // counts, truncated at 24 lags ((1−λ)²⁴ ≈ 0.5% residual weight), and
    // the 3σ out-of-control count against the series' own moments.
    // Recursive EWMA would chain IEEE state cross-engine; instead each
    // source hour EMITS its 24 decimal contributions (weight w_k =
    // round(λ(1−λ)ᵏ, 8) — a 24-value table identical in both engines)
    // and the keyed (type, hour) SUM of decimals reassembles the same
    // number order-free. Zero hours contribute zero, so only NON-zero
    // buckets fan out (24× the bucket relation, never corpus-scale);
    // the dense horizon arrives via the q_mase span grid. Moments fold
    // from double-squared decimals (the q_did discipline).
    Query("q_ewma", ((s, dir) => {
      val perH = Tables.events(s, dir)
        .select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000")
            .as("h"))
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val span = perH.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      val contrib = perH
        .select(col("event_type"), col("h"), col("c"),
          explode(sequence(lit(0L), lit(23L))).as("k"))
        .select(col("event_type"), (col("h") + col("k")).as("th"),
          (col("c") * round(lit(0.2) * pow(lit(0.8),
              col("k").cast("double")), 8).cast("decimal(12,8)"))
            .cast("decimal(30,10)").as("t"))
        .groupBy(col("event_type"), col("th"))
        .agg(sum(col("t")).as("ewma_dec"))
      val dense = perH.select(col("event_type")).distinct()
        .crossJoin(broadcast(span)) // 1-row span
        // Spark's sequence(a, b) with a > b generates a DESCENDING range
        // while DuckDB's generate_series is empty — guard the degenerate
        // (< 24 h of events) horizon so both engines emit nothing.
        .where(col("h0") + 23L <= col("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0") + 23L, col("h1"))).as("th"))
        .join(contrib, Seq("event_type", "th"), "left")
        .select(col("event_type"), col("th"),
          coalesce(col("ewma_dec"), lit(0).cast("decimal(30,10)"))
            .as("e"))
      val m = dense.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("e")).as("s"),
          sum((col("e").cast("double") * col("e").cast("double"))
            .cast("decimal(30,10)")).as("ss"))
        .select(col("event_type"), col("n"),
          (col("s").cast("double") / col("n").cast("double")).as("mean"),
          sqrt(greatest(
            (col("ss").cast("double") - col("s").cast("double") *
              col("s").cast("double") / col("n").cast("double")) /
              (col("n") - 1L).cast("double"),
            lit(0.0))).as("sd"))
      val out = abs(col("e").cast("double") - col("mean")) >
        lit(3.0) * col("sd")
      dense.join(m, Seq("event_type"))
        .groupBy(col("event_type"), col("n"), col("mean"), col("sd"))
        .agg(sum(when(out, 1L).otherwise(0L)).as("n_out"),
          min(when(out, col("th"))).as("first_out_h"))
        .select(col("event_type"), col("n").as("n_hours"),
          round(col("mean"), 6).as("mean_ewma"),
          round(col("sd"), 6).as("sd_ewma"),
          col("n_out"), col("first_out_h"))
        .orderBy("event_type")
    }),
      """WITH perh AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
            CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
         span AS (SELECT min(h) AS h0, max(h) AS h1 FROM perh),
         contrib AS (SELECT event_type, h + g.k AS th,
             CAST(c * CAST(round(0.2 * pow(0.8, g.k), 8)
               AS DECIMAL(12,8)) AS DECIMAL(30,10)) AS t
           FROM perh, LATERAL (SELECT unnest(generate_series(0, 23)) AS k)
             g),
         agg AS (SELECT event_type, th, SUM(t) AS ewma_dec
           FROM contrib GROUP BY 1, 2),
         dense AS (SELECT ty.event_type, gr.th,
             COALESCE(a.ewma_dec, CAST(0 AS DECIMAL(30,10))) AS e
           FROM (SELECT DISTINCT event_type FROM perh) ty
           CROSS JOIN (SELECT unnest(generate_series(
             (SELECT h0 + 23 FROM span), (SELECT h1 FROM span))) AS th
             WHERE (SELECT h0 + 23 FROM span) <= (SELECT h1 FROM span)) gr
           LEFT JOIN agg a ON a.event_type = ty.event_type
             AND a.th = gr.th),
         m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             SUM(e) AS s,
             SUM(CAST(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)
               AS DECIMAL(30,10))) AS ss
           FROM dense GROUP BY 1),
         st AS (SELECT event_type, n,
             CAST(s AS DOUBLE) / n AS mean,
             sqrt(greatest((CAST(ss AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
               / (n - 1), 0.0)) AS sd
           FROM m)
         SELECT d.event_type, st.n AS n_hours,
           ROUND(st.mean, 6) AS mean_ewma, ROUND(st.sd, 6) AS sd_ewma,
           CAST(SUM(CASE WHEN abs(CAST(d.e AS DOUBLE) - st.mean)
             > 3.0 * st.sd THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
           min(CASE WHEN abs(CAST(d.e AS DOUBLE) - st.mean)
             > 3.0 * st.sd THEN d.th END) AS first_out_h
         FROM dense d JOIN st ON d.event_type = st.event_type
         GROUP BY 1, 2, 3, 4 ORDER BY d.event_type"""),

    // ── Delete-one-nation jackknife SE of revenue per order ─────────────
    // The resampling-free uncertainty read next to q_bootstrap_ci: the
    // ratio estimator R = Σ revenue / Σ orders, re-estimated with each
    // customer nation deleted (R₍₋g₎ = (S−s_g)/(N−n_g)), then
    // SE² = (G−1)/G · Σ(R₍₋g₎ − R̄)². One keyed per-nation aggregate is
    // the data-scale work (dim join unhinted — VERDICT r13 #1); the
    // jackknife algebra runs on the ≤25-row group relation with
    // leave-one-out ratios as single double divides of exact decimals,
    // deviations² quantized DECIMAL(30,10) before their sum.
    Query("q_jackknife", ((s, dir) => {
      val dec = "decimal(30,10)"
      val g = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
          Seq("o_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(sum(col("o_totalprice").cast(dec)).as("sg"),
          count(lit(1)).as("ng"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = g.agg(sum(col("sg")).as("st"), sum(col("ng")).as("nt"),
        count(lit(1)).as("gcnt"))
      val loo = g.crossJoin(broadcast(tot)) // 1-row totals
        .select(col("gcnt"),
          (col("st").cast("double") / col("nt").cast("double"))
            .as("r_full"),
          ((col("st") - col("sg")).cast("double") /
            (col("nt") - col("ng")).cast("double")).as("r"))
      val rb = loo.agg(sum(col("r").cast(dec)).as("sr"))
      loo.crossJoin(broadcast(rb)) // 1-row pseudo-value mean
        .select(col("gcnt"), col("r_full"),
          (col("sr").cast("double") / col("gcnt").cast("double"))
            .as("rbar"), col("r"))
        .groupBy(col("gcnt"), col("r_full"), col("rbar"))
        .agg(sum(((col("r") - col("rbar")) * (col("r") - col("rbar")))
          .cast(dec)).as("sdev"))
        .select(col("gcnt").as("n_groups"),
          round(col("r_full"), 6).as("r_full"),
          round(col("rbar"), 6).as("r_loo_mean"),
          round(sqrt((col("gcnt") - 1L).cast("double") /
            col("gcnt").cast("double") * col("sdev").cast("double")), 6)
            .as("se_jack"),
          round((col("gcnt") - 1L).cast("double") *
            (col("rbar") - col("r_full")), 6).as("bias_jack"))
    }),
      """WITH g AS (SELECT c_nationkey,
            SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS sg,
            CAST(count(*) AS BIGINT) AS ng
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1),
         tot AS (SELECT SUM(sg) AS st, CAST(SUM(ng) AS BIGINT) AS nt,
           CAST(count(*) AS BIGINT) AS gcnt FROM g),
         loo AS (SELECT gcnt,
             CAST(st AS DOUBLE) / nt AS r_full,
             CAST(st - sg AS DOUBLE) / CAST(nt - ng AS DOUBLE) AS r
           FROM g CROSS JOIN tot),
         rb AS (SELECT SUM(CAST(r AS DECIMAL(30,10))) AS sr FROM loo),
         dev AS (SELECT gcnt, r_full,
             CAST(sr AS DOUBLE) / gcnt AS rbar,
             SUM(CAST((r - CAST(sr AS DOUBLE) / gcnt)
               * (r - CAST(sr AS DOUBLE) / gcnt) AS DECIMAL(30,10)))
               AS sdev
           FROM loo CROSS JOIN rb GROUP BY 1, 2, 3)
         SELECT gcnt AS n_groups, ROUND(r_full, 6) AS r_full,
           ROUND(rbar, 6) AS r_loo_mean,
           ROUND(sqrt(CAST(gcnt - 1 AS DOUBLE) / gcnt
             * CAST(sdev AS DOUBLE)), 6) AS se_jack,
           ROUND(CAST(gcnt - 1 AS DOUBLE) * (rbar - r_full), 6)
             AS bias_jack
         FROM dev"""),

    // ── Gumbel block-maxima fit of weekly peak order value ──────────────
    // The extreme-value read next to q_hill_tail's tail index: weekly
    // MAXIMA of order totalprice (max is arithmetic-free — exact on any
    // engine), Gumbel(μ, β) fitted by method of moments (β̂ = s√6/π,
    // μ̂ = m − γβ̂), and the 99% return level μ̂ − β̂·ln(−ln 0.99) — "the
    // weekly peak exceeded only 1% of weeks". The data-scale work is ONE
    // keyed weekly aggregate; moments fold over the ≤|weeks|-row maxima
    // relation with the q_did decimal discipline; the closing constants
    // (γ, π) are fixed literals so both engines run one IEEE chain.
    Query("q_gumbel", ((s, dir) => {
      val wk = tn(s, dir, "orders")
        .groupBy(expr("unix_micros(cast(o_orderdate as timestamp))" +
          " div 604800000000").as("w"))
        .agg(max(col("o_totalprice")).as("mx"))
      val m = wk.agg(count(lit(1)).as("n"),
        sum(col("mx").cast("decimal(30,10)")).as("s"),
        sum((col("mx") * col("mx")).cast("decimal(30,10)")).as("ss"))
      val mean = col("s").cast("double") / col("n").cast("double")
      val sd = sqrt(greatest(
        (col("ss").cast("double") - col("s").cast("double") *
          col("s").cast("double") / col("n").cast("double")) /
          (col("n") - 1L).cast("double"), lit(0.0)))
      val beta = sd * lit(math.sqrt(6.0) / math.Pi)
      val mu = mean - lit(0.5772156649015329) * beta
      m.select(col("n").as("n_weeks"),
        round(mean, 6).as("mean_max"), round(sd, 6).as("sd_max"),
        round(beta, 6).as("beta"), round(mu, 6).as("mu"),
        round(mu - beta * lit(math.log(-math.log(0.99))), 6)
          .as("ret_level_99"))
    }),
      """WITH wk AS (SELECT epoch_us(o_orderdate) // 604800000000 AS w,
            max(o_totalprice) AS mx
          FROM orders GROUP BY 1),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(mx AS DECIMAL(30,10))) AS s,
             SUM(CAST(mx * mx AS DECIMAL(30,10))) AS ss
           FROM wk),
         st AS (SELECT n,
             CAST(s AS DOUBLE) / n AS mean,
             sqrt(greatest((CAST(ss AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1),
               0.0)) AS sd
           FROM m),
         fit AS (SELECT n, mean, sd,
             sd * (sqrt(6.0) / pi()) AS beta
           FROM st)
         SELECT n AS n_weeks, ROUND(mean, 6) AS mean_max,
           ROUND(sd, 6) AS sd_max, ROUND(beta, 6) AS beta,
           ROUND(mean - 0.5772156649015329 * beta, 6) AS mu,
           ROUND(mean - 0.5772156649015329 * beta
             - beta * ln(-ln(0.99)), 6) AS ret_level_99
         FROM fit"""),

    // ── Inverse-propensity-weighted treatment effect (Hájek IPW) ────────
    // The confounder-adjusted sibling of q_did/q_cuped: treated = click,
    // control = view, confounder = hour-of-day stratum (24 cells at any
    // corpus size). Propensity p_s = treated share per stratum (exact
    // int ratio, ONE double divide); each row weighs 1/p̂ (treated) or
    // 1/(1−p̂) (control); ATE is the difference of self-normalized
    // weighted means. Per-row y·w and w chains quantize DECIMAL(30,10)
    // so the four arm sums are order-free; the stratum attach is a keyed
    // join to the 24-row stats relation. Reads "what the click−view gap
    // would be if both arms had the same hourly mix".
    Query("q_ipw_ate", ((s, dir) => {
      val dec = "decimal(30,10)"
      val ev = Tables.events(s, dir)
        .where(col("event_type").isin("click", "view"))
        .select((col("event_type") === "click").as("treated"),
          col("value"),
          expr("(unix_micros(cast(ts as timestamp)) div 3600000000) % 24")
            .as("stratum"))
      val strat = ev.groupBy(col("stratum"))
        .agg(count(lit(1)).as("n_s"),
          sum(when(col("treated"), 1L).otherwise(0L)).as("nt_s"))
      val wcol = when(col("treated"),
          col("n_s").cast("double") / col("nt_s").cast("double"))
        .otherwise(col("n_s").cast("double") /
          (col("n_s") - col("nt_s")).cast("double"))
      val agg = ev.join(strat, Seq("stratum"))
        .select(col("treated"), col("value"), wcol.as("w"))
        .groupBy(col("treated"))
        .agg(count(lit(1)).as("n"),
          sum((col("value") * col("w")).cast(dec)).as("syw"),
          sum(col("w").cast(dec)).as("sw"),
          sum(col("value").cast(dec)).as("sy"))
      val one = agg.agg(
        max(when(col("treated"), col("n"))).as("n_treated"),
        max(when(!col("treated"), col("n"))).as("n_control"),
        max(when(col("treated"),
          col("syw").cast("double") / col("sw").cast("double")))
          .as("mt"),
        max(when(!col("treated"),
          col("syw").cast("double") / col("sw").cast("double")))
          .as("mc"),
        max(when(col("treated"),
          col("sy").cast("double") / col("n").cast("double"))).as("yt"),
        max(when(!col("treated"),
          col("sy").cast("double") / col("n").cast("double"))).as("yc"))
      one.select(col("n_treated"), col("n_control"),
        round(col("mt") - col("mc"), 6).as("ate_ipw"),
        round(col("yt") - col("yc"), 6).as("diff_naive"))
    }),
      """WITH ev AS (SELECT (event_type = 'click') AS treated, value,
            (epoch_us(ts) // 3600000000) % 24 AS stratum
          FROM events WHERE event_type IN ('click', 'view')),
         strat AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_s,
             CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
               AS nt_s
           FROM ev GROUP BY 1),
         wtd AS (SELECT e.treated, e.value,
             CASE WHEN e.treated
               THEN CAST(s.n_s AS DOUBLE) / s.nt_s
               ELSE CAST(s.n_s AS DOUBLE) / (s.n_s - s.nt_s) END AS w
           FROM ev e JOIN strat s ON e.stratum = s.stratum),
         agg AS (SELECT treated, CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(value * w AS DECIMAL(30,10))) AS syw,
             SUM(CAST(w AS DECIMAL(30,10))) AS sw,
             SUM(CAST(value AS DECIMAL(30,10))) AS sy
           FROM wtd GROUP BY 1),
         one AS (SELECT
             max(CASE WHEN treated THEN n END) AS n_treated,
             max(CASE WHEN NOT treated THEN n END) AS n_control,
             max(CASE WHEN treated THEN CAST(syw AS DOUBLE)
               / CAST(sw AS DOUBLE) END) AS mt,
             max(CASE WHEN NOT treated THEN CAST(syw AS DOUBLE)
               / CAST(sw AS DOUBLE) END) AS mc,
             max(CASE WHEN treated THEN CAST(sy AS DOUBLE) / n END)
               AS yt,
             max(CASE WHEN NOT treated THEN CAST(sy AS DOUBLE) / n END)
               AS yc
           FROM agg)
         SELECT n_treated, n_control, ROUND(mt - mc, 6) AS ate_ipw,
           ROUND(yt - yc, 6) AS diff_naive
         FROM one"""),

    // ── TPC-H Q18 shape (large-volume customers) ─────────────────────────
    // The HAVING-subquery benchmark: orders whose total quantity exceeds
    // 300 (top ~0.1%), joined back to customer and re-aggregated. The
    // qualifying set is a LEFT SEMI join against the keyed
    // groupBy-HAVING relation — the IN-subquery plan shape — so lineitem
    // is scanned twice (once to qualify, once to total) but shuffled
    // only on orderkey; quantities are integral doubles summed as exact
    // int64 (Exact.longSum). Customer join unhinted (VERDICT r13 #1).
    Query("q_tpch_q18", ((s, dir) => {
      val li = tn(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val big = li.groupBy(col("l_orderkey"))
        .agg(Exact.longSum(col("l_quantity")).as("qty"))
        .where(col("qty") > 300L)
        .select(col("l_orderkey"))
      val o = tn(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      o.join(tn(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_name")),
          Seq("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
          col("o_totalprice"))
        .agg(Exact.longSum(col("l_quantity")).as("total_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(100)
    }),
      """SELECT c_name, o_custkey, o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
           HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)
         GROUP BY 1, 2, 3, 4, 5
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),

    // ── Top event trigram paths (behavioral sequence mining) ────────────
    // What users DO in order — the n-gram extension of q_markov_chain's
    // single transitions: per-user ts-ordered event streams yield
    // sliding (e₁→e₂→e₃) trigrams via two keyed leads, counted and
    // ranked with each path's share of all trigrams. One window shuffle
    // on user_id + one keyed aggregate — corpus-linear; the share
    // denominator rides a constant-key window over the ≤|types|³-row
    // path relation (the q_class_weights pmod idiom). Top-20,
    // path-tiebroken.
    Query("q_event_paths", ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val tri = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("e1"),
          lead(col("event_type"), 1).over(w).as("e2"),
          lead(col("event_type"), 2).over(w).as("e3"))
        .where(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy(col("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
      val wTot = Window.partitionBy(pmod(length(col("e1")), lit(1)))
      tri.select(col("e1"), col("e2"), col("e3"), col("n"),
          round(col("n").cast("double") / sum(col("n")).over(wTot), 6)
            .as("share"))
        .orderBy(desc("n"), col("e1"), col("e2"), col("e3"))
        .limit(20)
    }),
      """WITH seq AS (SELECT event_type AS e1,
            lead(event_type, 1) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS e2,
            lead(event_type, 2) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS e3
          FROM events),
         tri AS (SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
           FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
           GROUP BY 1, 2, 3)
         SELECT e1, e2, e3, n,
           ROUND(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS share
         FROM tri ORDER BY n DESC, e1, e2, e3 LIMIT 20"""),

    // ── 7-day rolling correlation of click vs purchase dailies ──────────
    // Does engagement co-move with conversion, and WHEN does the
    // coupling break — the rolling bivariate read q_autocorr (self) and
    // q_corr (static) don't give. Daily click/purchase counts on the
    // dense day grid (q_mase span discipline), then per full 7-day
    // window the five moment sums fold as exact int64 window sums and
    // Pearson r closes in one IEEE chain per row (NULL when a window's
    // series is constant — both engines compare the same exact-integer
    // denominator to zero). The rolled relation is SPAN-bounded (days in
    // window at any corpus size), so its ordered windows ride the pmod
    // idiom.
    Query("q_rolling_corr", ((s, dir) => {
      val perD = Tables.events(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("d"))
        .groupBy(col("d"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      val dense = perD.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(col("d0"),
          explode(sequence(col("d0"), col("d1"))).as("d"))
        .join(perD, Seq("d"), "left")
        .na.fill(0L, Seq("x", "y"))
      val w7 = Window.partitionBy(pmod(col("d"), lit(1L)))
        .orderBy(col("d")).rowsBetween(-6, 0)
      val m = dense.select(col("d"), col("d0"), col("x"), col("y"),
        sum(col("x")).over(w7).as("sx"), sum(col("y")).over(w7).as("sy"),
        sum(col("x") * col("y")).over(w7).as("sxy"),
        sum(col("x") * col("x")).over(w7).as("sxx"),
        sum(col("y") * col("y")).over(w7).as("syy"))
      val den = (lit(7L) * col("sxx") - col("sx") * col("sx")) *
        (lit(7L) * col("syy") - col("sy") * col("sy"))
      m.where(col("d") >= col("d0") + 6L)
        .select(col("d").as("day"), col("x").as("clicks"),
          col("y").as("purchases"),
          when(den > 0L,
            round((lit(7L) * col("sxy") - col("sx") * col("sy"))
              .cast("double") / sqrt(den.cast("double")), 6)).as("r7"))
        .orderBy("day")
    }),
      """WITH perd AS (SELECT epoch_us(ts) // 86400000000 AS d,
            CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
          FROM events WHERE event_type IN ('click', 'purchase')
          GROUP BY 1),
         bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM perd),
         dense AS (SELECT b.d0, g.d,
             CAST(COALESCE(p.x, 0) AS BIGINT) AS x,
             CAST(COALESCE(p.y, 0) AS BIGINT) AS y
           FROM bounds b
           CROSS JOIN (SELECT unnest(generate_series(
             (SELECT d0 FROM bounds), (SELECT d1 FROM bounds))) AS d) g
           LEFT JOIN perd p ON p.d = g.d),
         m AS (SELECT d, d0, x, y,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
             CAST(SUM(y * y) OVER w AS BIGINT) AS syy
           FROM dense
           WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING
             AND CURRENT ROW))
         SELECT d AS day, x AS clicks, y AS purchases,
           CASE WHEN (7 * sxx - sx * sx) * (7 * syy - sy * sy) > 0
             THEN ROUND(CAST(7 * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST((7 * sxx - sx * sx) * (7 * syy - sy * sy)
                 AS DOUBLE)), 6) END AS r7
         FROM m WHERE d >= d0 + 6 ORDER BY day"""),

    // ── Log-rank test: click-first vs view-first survival ───────────────
    // Do the two onboarding cohorts CHURN differently — the hypothesis
    // test on top of q_kaplan_meier's curve: arm 1 = users whose FIRST
    // event is a click, lifetimes/censoring as in KM (hours, 6 h window).
    // At each lifetime t: O₁ₜ = d₁ₜ observed arm-1 deaths, E₁ₜ = r₁ₜ·dₜ/rₜ
    // expected under H₀, Vₜ the hypergeometric variance; z = (O₁−E₁)/√V.
    // At-risk counts are exact int64 prefix sums on the span-bounded
    // lifetime table (pmod window); each per-row E/V term is one IEEE
    // chain quantized DECIMAL(20,10) so the three sums are order-free;
    // the degenerate rₜ=1 final row is guarded identically both sides.
    Query("q_logrank", ((s, dir) => {
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val per = Tables.events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("us"),
          first(col("event_type")).over(wU).as("ftype"))
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("mn"), max(col("us")).as("mx"),
          max((col("ftype") === "click").cast("int")).as("arm1"))
      val end = per.agg(max(col("mx")).as("study_end"))
      val byT = per.crossJoin(broadcast(end)) // 1-row study end
        .select(expr("(mx - mn) div 3600000000").as("t"), col("arm1"),
          (col("study_end") - col("mx") < lit(21600000000L))
            .as("censored"))
        .groupBy(col("t"))
        .agg(
          sum(when(!col("censored") && col("arm1") === 1, 1L)
            .otherwise(0L)).as("d1"),
          sum(when(!col("censored"), 1L).otherwise(0L)).as("d"),
          sum(when(col("arm1") === 1, 1L).otherwise(0L)).as("tot1"),
          count(lit(1)).as("tot"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = byT.agg(sum(col("tot1")).as("n1"), sum(col("tot")).as("nt"))
      val wPrev = Window.partitionBy(pmod(col("t"), lit(1L)))
        .orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val risk = byT.crossJoin(broadcast(n)) // 1-row cohort totals
        .select(col("t"), col("d1"), col("d"),
          (col("n1") - coalesce(sum(col("tot1")).over(wPrev), lit(0L)))
            .as("r1"),
          (col("nt") - coalesce(sum(col("tot")).over(wPrev), lit(0L)))
            .as("r"))
      val share = col("r1").cast("double") / col("r").cast("double")
      val stats = risk.where(col("d") > 0L).agg(
        sum(col("d1")).as("o1"),
        sum((col("d").cast("double") * share).cast("decimal(20,10)"))
          .as("e1"),
        sum(when(col("r") > 1L,
            (col("d").cast("double") * share * (lit(1.0) - share) *
              (col("r") - col("d")).cast("double") /
              (col("r") - 1L).cast("double")).cast("decimal(20,10)"))
          .otherwise(lit(0.0).cast("decimal(20,10)"))).as("v"))
      stats.crossJoin(broadcast(n)) // 1-row cohort totals
        .select(col("n1").as("n_arm1"), (col("nt") - col("n1"))
            .as("n_arm2"), col("o1").as("observed1"),
          round(col("e1").cast("double"), 6).as("expected1"),
          round(col("v").cast("double"), 6).as("variance"),
          round((col("o1").cast("double") - col("e1").cast("double")) /
            sqrt(col("v").cast("double")), 6).as("z"))
    }),
      """WITH seq AS (SELECT user_id, epoch_us(ts) AS us,
            first_value(event_type) OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS ftype
          FROM events),
         per AS (SELECT user_id, min(us) AS mn, max(us) AS mx,
             max(CASE WHEN ftype = 'click' THEN 1 ELSE 0 END) AS arm1
           FROM seq GROUP BY 1),
         fin AS (SELECT max(mx) AS study_end FROM per),
         byt AS (SELECT (mx - mn) // 3600000000 AS t,
             CAST(SUM(CASE WHEN study_end - mx >= 21600000000
               AND arm1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN study_end - mx >= 21600000000
               THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(SUM(arm1) AS BIGINT) AS tot1,
             CAST(count(*) AS BIGINT) AS tot
           FROM per CROSS JOIN fin GROUP BY 1),
         n AS (SELECT CAST(SUM(tot1) AS BIGINT) AS n1,
           CAST(SUM(tot) AS BIGINT) AS nt FROM byt),
         risk AS (SELECT t, d1, d,
             CAST(n1 - COALESCE(SUM(tot1) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS r1,
             CAST(nt - COALESCE(SUM(tot) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS r
           FROM byt CROSS JOIN n),
         st AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             SUM(CAST(d * (CAST(r1 AS DOUBLE) / r) AS DECIMAL(20,10)))
               AS e1,
             SUM(CASE WHEN r > 1 THEN CAST(
                 d * (CAST(r1 AS DOUBLE) / r)
                   * (1.0 - CAST(r1 AS DOUBLE) / r)
                   * CAST(r - d AS DOUBLE) / CAST(r - 1 AS DOUBLE)
                 AS DECIMAL(20,10))
               ELSE CAST(0.0 AS DECIMAL(20,10)) END) AS v
           FROM risk WHERE d > 0)
         SELECT n.n1 AS n_arm1, n.nt - n.n1 AS n_arm2,
           st.o1 AS observed1,
           ROUND(CAST(st.e1 AS DOUBLE), 6) AS expected1,
           ROUND(CAST(st.v AS DOUBLE), 6) AS variance,
           ROUND((CAST(st.o1 AS DOUBLE) - CAST(st.e1 AS DOUBLE))
             / sqrt(CAST(st.v AS DOUBLE)), 6) AS z
         FROM st CROSS JOIN n"""),

    // ── Empirical VaR / CVaR of daily revenue ────────────────────────────
    // The tail-risk read a revenue dashboard puts next to q_gumbel's
    // peak model: the 5% value-at-risk (type-1 order statistic at
    // ⌈0.05·n⌉ over the ≤|days|-row daily revenue relation) and the
    // expected shortfall CVaR = mean of the days at or below it. Daily
    // sums are decimal-exact; the rank rides the pmod window on the
    // span-bounded relation; the tail mean folds decimal sums with ONE
    // final divide. Exactly replayable — no interpolation semantics to
    // disagree on (the q_global_quantiles type-1 discipline).
    Query("q_var_cvar", ((s, dir) => {
      val daily = tn(s, dir, "orders")
        .groupBy(expr("unix_micros(cast(o_orderdate as timestamp))" +
          " div 86400000000").as("d"))
        .agg(sum(col("o_totalprice").cast("decimal(30,10)")).as("rev"))
      val wRank = Window.partitionBy(pmod(col("d"), lit(1L)))
        .orderBy(col("rev"), col("d"))
      val wTot = Window.partitionBy(pmod(col("d"), lit(1L)))
      val ranked = daily.select(col("rev"),
        row_number().over(wRank).as("rk"),
        count(lit(1)).over(wTot).as("n"))
      ranked
        .where(col("rk") <= ceil(col("n").cast("double") * 0.05)
          .cast("long"))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_tail"),
          max(col("rev")).as("var_dec"),
          sum(col("rev")).as("tail_sum"))
        .select(col("n").as("n_days"), col("n_tail"),
          round(col("var_dec").cast("double"), 4).as("var_5pct"),
          round(col("tail_sum").cast("double") /
            col("n_tail").cast("double"), 4).as("cvar_5pct"))
    }),
      """WITH daily AS (SELECT epoch_us(o_orderdate) // 86400000000 AS d,
            SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS rev
          FROM orders GROUP BY 1),
         ranked AS (SELECT rev,
             row_number() OVER (ORDER BY rev, d) AS rk,
             count(*) OVER () AS n
           FROM daily),
         tail AS (SELECT n, CAST(count(*) AS BIGINT) AS n_tail,
             max(rev) AS var_dec, SUM(rev) AS tail_sum
           FROM ranked
           WHERE rk <= CAST(ceil(CAST(n AS DOUBLE) * 0.05) AS BIGINT)
           GROUP BY n)
         SELECT CAST(n AS BIGINT) AS n_days, n_tail,
           ROUND(CAST(var_dec AS DOUBLE), 4) AS var_5pct,
           ROUND(CAST(tail_sum AS DOUBLE) / n_tail, 4) AS cvar_5pct
         FROM tail"""),
  )
}
