package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Exact
import graft.ops.Skew
import OracleSql._

/** Relational operator suite over the fixture star schema
  * (SURVEY §2.2 categories the reference lacks; generalization target per
  * `hash_map.c:60-63`'s key-matched merge — the closest the reference gets
  * to a join — and the north-star relational surface).
  *
  * Design rules shared by every query here:
  *  - deterministic cross-engine output: double aggregates go through
  *    [[Exact]] (decimal accumulate, round at the edge); no NULLs in any
  *    output column (sentinels via coalesce) so the driver's row-sort
  *    compare never orders None against a value; timestamps surfaced as
  *    TIMESTAMP_NTZ so parquet round-trips compare naive-to-naive.
  *  - scale posture: dimension tables (region 5 / nation 25 / supplier 100)
  *    are broadcast explicitly — at 100 TB the fact-side shuffle on join
  *    keys is the only exchange that should grow with data volume. Fact⋈fact
  *    (lineitem⋈orders) is left to Catalyst/AQE: sort-merge with both sides
  *    hash-partitioned on orderkey.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Exact-decimal average, the [[OracleSql.oSum]] mirror. */
  private def oAvg(expr: String, as: String, scale: Int = 6): String =
    s"ROUND(CAST(SUM(CAST($expr AS DECIMAL(28,10))) AS DOUBLE) / COUNT($expr), $scale) AS $as"

  val queries: Seq[Query] = Seq(
    // ── Catalog coverage (dead-inventory read per brand) ────────────────
    // Which brands carry parts that never sold — the dim-side coverage
    // audit (the inverse of every fact-side rollup): distinct ordered
    // partkeys (fact-scale aggregate) LEFT-joined onto the part dim,
    // keyed; per brand the ordered share and the dead count. The same
    // shape reads "documents never retrieved" or "users never active" —
    // referential coverage of a dimension by a fact.
    Query("q_catalog_coverage", ((s, dir) => {
      val ordered = t(s, dir, "lineitem")
        .select(col("l_partkey").as("p_partkey")).distinct()
        .withColumn("hit", lit(1))
      t(s, dir, "part")
        .join(ordered, Seq("p_partkey"), "left")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L))
            .as("n_ordered"))
        .select(col("p_brand"), col("n_parts"), col("n_ordered"),
          (col("n_parts") - col("n_ordered")).as("n_dead"),
          round(col("n_ordered").cast("double") / col("n_parts"), 6)
            .as("coverage"))
        .orderBy("p_brand")
    }),
      """WITH ord AS (SELECT DISTINCT l_partkey FROM lineitem)
         SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN o.l_partkey IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_ordered,
           CAST(count(*) - SUM(CASE WHEN o.l_partkey IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
           ROUND(CAST(SUM(CASE WHEN o.l_partkey IS NOT NULL THEN 1 ELSE 0
             END) AS DOUBLE) / count(*), 6) AS coverage
         FROM part p LEFT JOIN ord o ON o.l_partkey = p.p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),

    // ── Join family ──────────────────────────────────────────────────────
    // 4-way inner join: fact⋈fact shuffled on orderkey, dims broadcast.
    Query("q_join_pricing", ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(
          Exact.roundSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),
      s"""SELECT n_name, ${oSum("l_extendedprice*(1-l_discount)", "revenue")},
            count(*) AS n_items
          FROM lineitem
          JOIN orders   ON l_orderkey  = o_orderkey
          JOIN customer ON o_custkey   = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
          GROUP BY n_name ORDER BY n_name"""),
    // ── TPC-H Q5 shape: local-supplier revenue (cyclic join graph) ──────
    // Six tables with the extra s_nationkey = c_nationkey constraint — the
    // join graph has a CYCLE, the classic join-order/broadcast showcase:
    // dims broadcast, the fact-side equi-chain shuffles on its keys, the
    // cycle closes as a cheap post-join filter-free equi condition (it
    // rides the supplier join), and the date filter pushes to the orders
    // scan. Revenue per nation for ASIA suppliers serving same-nation
    // customers in 1996.
    Query("q_join_snowflake", ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o.where(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
            col("o_orderdate") < lit("1997-01-01").cast("date")),
          col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(
          Exact.roundSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),
      s"""SELECT n_name, ${oSum("l_extendedprice*(1-l_discount)", "revenue")},
            count(*) AS n_items
          FROM lineitem
          JOIN orders   ON l_orderkey  = o_orderkey
          JOIN customer ON o_custkey   = c_custkey
          JOIN supplier ON l_suppkey   = s_suppkey
                       AND s_nationkey = c_nationkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= DATE '1996-01-01'
            AND o_orderdate <  DATE '1997-01-01'
          GROUP BY n_name ORDER BY n_name"""),

    // ── ANALYZE-style column profiler ───────────────────────────────────
    // Per-column CBO statistics (n/nulls/ndv/min/max) for eight lineitem
    // columns in ONE aggregation pass, unpivoted to a row per column
    // (Profile.columnStats). Exact ndv here (the oracle is exact) — the
    // plan is Catalyst's Expand multi-distinct; exactNdv=false is the
    // documented 100 TB swap (HLL ndv, Expand disappears, one mergeable
    // pass). Timestamps surface as exact micros/1e6 epoch seconds.
    Query("q_profile", ((s, dir) =>
      graft.ops.Profile.columnStats(t(s, dir, "lineitem"),
          numCols = Seq("l_orderkey", "l_partkey", "l_quantity",
            "l_extendedprice", "l_discount"),
          strCols = Seq("l_returnflag", "l_linestatus"),
          tsCols = Seq("l_shipdate"))
        .orderBy("col_name")), {
      // One UNION ALL branch per profiled column; epoch_us(...)/1000000.0 is
      // the identical IEEE division Spark's unix_micros(...)/1e6 performs.
      def num(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
              count(*) - count($c) AS n_null, count(DISTINCT $c) AS ndv,
              CAST(min($c) AS DOUBLE) AS min_num,
              CAST(max($c) AS DOUBLE) AS max_num,
              CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
            FROM lineitem"""
      def str(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
              count(*) - count($c) AS n_null, count(DISTINCT $c) AS ndv,
              CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
              min($c) AS min_str, max($c) AS max_str
            FROM lineitem"""
      def ts(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
              count(*) - count($c) AS n_null, count(DISTINCT $c) AS ndv,
              epoch_us(min($c)) / 1000000.0 AS min_num,
              epoch_us(max($c)) / 1000000.0 AS max_num,
              CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
            FROM lineitem"""
      (Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount").map(num) ++
        Seq("l_returnflag", "l_linestatus").map(str) ++
        Seq("l_shipdate").map(ts))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }),

    // ── Join-key skew advisor ───────────────────────────────────────────
    // The pre-join profiling pass (Skew.advisor): hottest 10 l_partkey
    // values with share, skew ratio vs the mean key, and the recommended
    // salt factor for Skew.saltedJoin. One count pass + a single-row stats
    // crossJoin + a deterministic top-N cut.
    Query("q_skew_advisor", ((s, dir) =>
      Skew.advisor(t(s, dir, "lineitem"), "l_partkey", topN = 10)),
      // skew math mirrored in doubles: CAST(cnt AS DOUBLE) * n_keys / total
      // is the identical IEEE op chain Spark runs (counts ≪ 2^53, exact).
      """WITH counts AS (
           SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1),
         stats AS (
           SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys
           FROM counts)
         SELECT l_partkey, cnt,
           ROUND(CAST(cnt AS DOUBLE) / total, 6) AS share,
           ROUND(CAST(cnt AS DOUBLE) * n_keys / total, 6) AS skew_ratio,
           CAST(ceil(CAST(cnt AS DOUBLE) * n_keys / total) AS INT) AS salt
         FROM counts CROSS JOIN stats
         ORDER BY cnt DESC, l_partkey LIMIT 10"""),

    // Left outer join preserving customers with no matching open order.
    Query("q_join_outer", ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_orderstatus") === "P")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(
          count(col("o_orderkey")).as("n_open"),
          Exact.roundSum(coalesce(col("o_totalprice"), lit(0.0))).as("open_total"))
        .orderBy("c_custkey")
    }),
      s"""SELECT c_custkey, count(o_orderkey) AS n_open,
            ${oSum("COALESCE(o_totalprice, 0.0)", "open_total")}
          FROM customer
          LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
            ON c_custkey = o.o_custkey
          GROUP BY c_custkey ORDER BY c_custkey"""),
    // Left-semi: customers having ≥1 finished order (EXISTS).
    Query("q_join_semi", ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_orderstatus") === "F")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
         ORDER BY c_custkey"""),
    // Left-anti: customers with NO finished order (NOT EXISTS; 71 rows at sf0.01).
    Query("q_join_anti", ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_orderstatus") === "F")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
         ORDER BY c_custkey"""),
    // Full outer join of two aggregated sides; nulls coalesced to 0.
    Query("q_join_full", ((s, dir) => {
      val cn = t(s, dir, "customer").groupBy(col("c_nationkey").as("nk_c"))
        .agg(count(lit(1)).as("n_cust"))
      val sn = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nk_s"))
        .agg(count(lit(1)).as("n_supp"))
      cn.join(sn, col("nk_c") === col("nk_s"), "full")
        .select(
          coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    }),
      """SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
            COALESCE(cn.n_cust, 0) AS n_cust, COALESCE(sn.n_supp, 0) AS n_supp
         FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1) cn
         FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1) sn
           ON cn.nk = sn.nk
         ORDER BY nationkey"""),

    // Salted skew join (Skew.saltedJoin), gated on RESULT IDENTITY with the
    // plain join: the salt must change task placement only, never the
    // answer. The oracle is the unsalted SQL join — the strongest check a
    // routing-only rewrite can get. (Task-level skew behavior is spec-gated
    // in SkewSpec/ShuffleVolumeSpec; this row pins correctness.)
    Query("q_join_salted", ((s, dir) => {
      val fact = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"),
          col("l_extendedprice"), col("l_orderkey"))
      val dim = t(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      Skew.saltedJoin(fact, dim, "suppkey", col("l_orderkey"), salts = 8)
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(Exact.roundSum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("nationkey")
    }),
      s"""SELECT s_nationkey AS nationkey,
            ${oSum("l_extendedprice", "revenue")}, count(*) AS n_items
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY 1 ORDER BY nationkey"""),

    // ── Aggregate variants (TPC-H Q1 shape) ──────────────────────────────
    Query("q_agg_variants", ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Exact.longSum(col("l_quantity")).as("sum_qty"),
          Exact.roundSum(col("l_extendedprice")).as("sum_price"),
          Exact.roundAvg(col("l_discount")).as("avg_disc"),
          min(col("l_shipdate")).cast("timestamp_ntz").as("min_ship"),
          max(col("l_shipdate")).cast("timestamp_ntz").as("max_ship"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),
      s"""SELECT l_returnflag, l_linestatus,
            CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
            ${oSum("l_extendedprice", "sum_price")},
            ${oAvg("l_discount", "avg_disc")},
            min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
            count(*) AS cnt
          FROM lineitem GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus"""),
    Query("q_agg_distinct", ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count_distinct(col("l_suppkey")).as("n_supp"),
          count_distinct(col("l_partkey")).as("n_part"))
        .orderBy("l_returnflag")),
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
            count(DISTINCT l_partkey) AS n_part
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Query("q_distinct", ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_mktsegment"))
        .distinct()
        .orderBy("c_mktsegment")),
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"),

    // ── Grouping analytics: cube / rollup / grouping sets ────────────────
    // NULL grouping keys → 'ALL' sentinel (no collision: flags are 1-char).
    Query("q_cube", ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), Exact.longSum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("cnt"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")),
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
            COALESCE(l_linestatus, 'ALL') AS linestatus,
            count(*) AS cnt,
            CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus"""),
    // grouping()/grouping_id() over the same cube: the super-aggregate
    // DISAMBIGUATOR — a real NULL key and a rolled-up level are
    // indistinguishable by the value column alone; grouping_id is how
    // engines (and the coalesce-to-'ALL' idiom above) tell them apart.
    Query("q_grouping_id", ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"),
          grouping_id().cast("int").as("gid"),
          count(lit(1)).as("cnt"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("g_rf"), col("g_ls"), col("gid"), col("cnt"))
        .orderBy("gid", "returnflag", "linestatus")),
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
           count(*) AS cnt
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY gid, returnflag, linestatus"""),
    // ── CDC snapshot diff (the inverse of q_upsert) ─────────────────────
    // Given two keyed snapshots, derive the change batch: per-key rows
    // with change ∈ {insert, delete, update} and both value images — the
    // differencing op CDC replication and table-format history read. One
    // keyed full-outer join; unchanged rows drop. Snapshot B is a
    // deterministic mutation of orders (P-status repriced ×1.1 = updates,
    // %500==0 F-status dropped = deletes, key+10^9 clones = inserts).
    Query("q_cdc_diff", ((s, dir) => {
      val a = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val ins = t(s, dir, "orders")
        .where(col("o_orderstatus") === "F" &&
          pmod(col("o_orderkey"), lit(500)) === 0)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_totalprice"))
      val b = t(s, dir, "orders")
        .where(!(col("o_orderstatus") === "F" &&
          pmod(col("o_orderkey"), lit(500)) === 0))
        .select(col("o_orderkey"),
          when(col("o_orderstatus") === "P", col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(ins)
      a.as("a").join(b.as("b"),
          col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
        .select(
          coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
          col("a.o_totalprice").as("old_price"),
          col("b.o_totalprice").as("new_price"),
          when(col("a.o_orderkey").isNull, lit("insert"))
            .when(col("b.o_orderkey").isNull, lit("delete"))
            .when(col("a.o_totalprice") =!= col("b.o_totalprice"),
              lit("update")).as("change"))
        .where(col("change").isNotNull)
        .orderBy("o_orderkey")
    }),
      """SELECT * FROM (
           WITH a AS (SELECT o_orderkey, o_totalprice FROM orders),
             b AS (
               SELECT o_orderkey,
                 CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 1.1
                      ELSE o_totalprice END AS o_totalprice
               FROM orders
               WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 500 = 0)
               UNION ALL
               SELECT o_orderkey + 1000000000, o_totalprice FROM orders
               WHERE o_orderstatus = 'F' AND o_orderkey % 500 = 0)
           SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             a.o_totalprice AS old_price, b.o_totalprice AS new_price,
             CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                  WHEN b.o_orderkey IS NULL THEN 'delete'
                  WHEN a.o_totalprice <> b.o_totalprice THEN 'update'
             END AS change
           FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
         WHERE change IS NOT NULL ORDER BY o_orderkey"""),
    Query("q_rollup", ((s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), Exact.roundSum(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("cnt"), col("total"))
        .orderBy("priority", "status")),
      s"""SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
            COALESCE(o_orderstatus, 'ALL') AS status,
            count(*) AS cnt, ${oSum("o_totalprice", "total")}
          FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
          ORDER BY priority, status"""),
    Query("q_grouping_sets", ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("cnt"))
        .orderBy("returnflag", "linestatus")
    }),
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
            COALESCE(l_linestatus, 'ALL') AS linestatus, count(*) AS cnt
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY returnflag, linestatus"""),

    // ── Set operations ───────────────────────────────────────────────────
    Query("q_set_union", ((s, dir) => {
      val a = t(s, dir, "customer").where(col("c_mktsegment") === "MACHINERY")
        .select(col("c_nationkey").as("nationkey"))
      val b = t(s, dir, "supplier").where(col("s_acctbal") < 0)
        .select(col("s_nationkey").as("nationkey"))
      a.union(b).distinct().orderBy("nationkey") // union+distinct == SQL UNION
    }),
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
         UNION
         SELECT s_nationkey FROM supplier WHERE s_acctbal < 0
         ORDER BY nationkey"""),
    Query("q_set_intersect", ((s, dir) => {
      val a = t(s, dir, "customer").where(col("c_acctbal") < 0)
        .select(col("c_nationkey").as("nationkey"))
      val b = t(s, dir, "supplier").where(col("s_acctbal") < 0)
        .select(col("s_nationkey").as("nationkey"))
      a.intersect(b).orderBy("nationkey")
    }),
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal < 0
         INTERSECT
         SELECT s_nationkey FROM supplier WHERE s_acctbal < 0
         ORDER BY nationkey"""),
    Query("q_set_except", ((s, dir) => {
      val all = t(s, dir, "nation").select(col("n_nationkey").as("nationkey"))
      val some = t(s, dir, "supplier").where(col("s_suppkey") <= 20)
        .select(col("s_nationkey").as("nationkey"))
      all.except(some).orderBy("nationkey")
    }),
      """SELECT n_nationkey AS nationkey FROM nation
         EXCEPT
         SELECT s_nationkey FROM supplier WHERE s_suppkey <= 20
         ORDER BY nationkey"""),

    // ── Set ops, BAG semantics (EXCEPT ALL / INTERSECT ALL) ─────────────
    // Multiplicity-preserving set algebra — the other half of the set-op
    // family (the DISTINCT forms are q_set_*): per-nation supplier keys
    // minus one copy per ≤20-suppkey supplier, and the multiset overlap of
    // customer vs supplier nation keys (min of the two multiplicities,
    // 25 nations × counts). Catalyst plans both as keyed hash joins with
    // count arithmetic — no distinct collapse.
    Query("q_set_bag", ((s, dir) => {
      val supN = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      val custN = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val small = t(s, dir, "supplier").where(col("s_suppkey") <= 20)
        .select(col("s_nationkey").as("nationkey"))
      val exceptAll = supN.exceptAll(small)
        .groupBy(col("nationkey")).agg(count(lit(1)).as("n_except_all"))
      val intersectAll = supN.intersectAll(custN)
        .groupBy(col("nationkey")).agg(count(lit(1)).as("n_intersect_all"))
      exceptAll.join(intersectAll, Seq("nationkey"), "full_outer")
        .select(col("nationkey"),
          coalesce(col("n_except_all"), lit(0L)).as("n_except_all"),
          coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"))
        .orderBy("nationkey")
    }),
      """WITH ea AS (
           SELECT nationkey, count(*) AS n_except_all FROM (
             SELECT s_nationkey AS nationkey FROM supplier
             EXCEPT ALL
             SELECT s_nationkey FROM supplier WHERE s_suppkey <= 20)
           GROUP BY 1),
         ia AS (
           SELECT nationkey, count(*) AS n_intersect_all FROM (
             SELECT s_nationkey AS nationkey FROM supplier
             INTERSECT ALL
             SELECT c_nationkey FROM customer)
           GROUP BY 1)
         SELECT COALESCE(ea.nationkey, ia.nationkey) AS nationkey,
           COALESCE(n_except_all, 0) AS n_except_all,
           COALESCE(n_intersect_all, 0) AS n_intersect_all
         FROM ea FULL OUTER JOIN ia ON ea.nationkey = ia.nationkey
         ORDER BY nationkey"""),

    // ── CBO join-cardinality self-audit ─────────────────────────────────
    // The textbook equi-join estimate |A⋈B| ≈ |A|·|B| / max(ndv_A, ndv_B)
    // read against the TRUE join count for lineitem⋈orders on orderkey —
    // the number an optimizer's cost model rides on, surfaced as data
    // (est, actual, error ratio). Three aggregates + one keyed join count;
    // at scale the ndv legs swap to approx_count_distinct like q_profile.
    Query("q_join_estimate", ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"))
      val sa = li.agg(count(lit(1)).as("n_a"),
        count_distinct(col("l_orderkey")).as("ndv_a"))
      val sb = ord.agg(count(lit(1)).as("n_b"),
        count_distinct(col("o_orderkey")).as("ndv_b"))
      val actual = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("actual"))
      sa.crossJoin(sb).crossJoin(actual)
        .select(col("n_a"), col("n_b"), col("ndv_a"), col("ndv_b"),
          round(col("n_a").cast("double") * col("n_b")
            / greatest(col("ndv_a"), col("ndv_b")), 6).as("est"),
          col("actual"),
          round(col("n_a").cast("double") * col("n_b")
            / greatest(col("ndv_a"), col("ndv_b")) / col("actual"), 6)
            .as("err_ratio"))
    }),
      """WITH sa AS (
           SELECT count(*) AS n_a, count(DISTINCT l_orderkey) AS ndv_a
           FROM lineitem),
         sb AS (
           SELECT count(*) AS n_b, count(DISTINCT o_orderkey) AS ndv_b
           FROM orders),
         ac AS (
           SELECT count(*) AS actual FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey)
         SELECT n_a, n_b, ndv_a, ndv_b,
           ROUND(CAST(n_a AS DOUBLE) * n_b / greatest(ndv_a, ndv_b), 6)
             AS est,
           actual,
           ROUND(CAST(n_a AS DOUBLE) * n_b / greatest(ndv_a, ndv_b)
                 / actual, 6) AS err_ratio
         FROM sa CROSS JOIN sb CROSS JOIN ac"""),

    // ── MERGE INTO / upsert (Merge.upsert) ──────────────────────────────
    // A deterministic change batch against orders: every P-status order
    // repriced ×1.1 (updates) + clones of the %500==0 F-status orders
    // under key+10^9 (inserts). Gate reads the whole-table audit: per
    // (status, action) row count + decimal-exact price sum — any wrong
    // coalesce, lost row, or double-match shifts a cell.
    Query("q_upsert", ((s, dir) => {
      val t0 = t(s, dir, "orders").select("o_orderkey", "o_orderstatus",
        "o_totalprice")
      val updates = t0.where(col("o_orderstatus") === "P")
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      val inserts = t0.where(col("o_orderstatus") === "F" &&
          pmod(col("o_orderkey"), lit(500)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
      graft.ops.Merge.upsert(t0, updates.unionByName(inserts), "o_orderkey")
        .groupBy(col("o_orderstatus"), col("__action").as("action"))
        .agg(count(lit(1)).as("n"),
          Exact.roundSum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus", "action")
    }),
      s"""WITH t0 AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
          src AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1
              AS o_totalprice
            FROM t0 WHERE o_orderstatus = 'P'
            UNION ALL
            SELECT o_orderkey + 1000000000, o_orderstatus, o_totalprice
            FROM t0 WHERE o_orderstatus = 'F' AND o_orderkey % 500 = 0),
          merged AS (
            SELECT
              COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
              COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
              CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                   WHEN s.o_orderkey IS NULL THEN 'keep'
                   ELSE 'update' END AS action
            FROM t0 t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
          SELECT o_orderstatus, action, count(*) AS n,
            ${oSum("o_totalprice", "total")}
          FROM merged GROUP BY 1, 2 ORDER BY o_orderstatus, action"""),

    // ── Runtime-filter semi-join (Bloom pushdown) ───────────────────────
    // High-value orders' Bloom prefilters the lineitem scan map-side, the
    // keyed semi-join verifies exactly (RuntimeFilter.bloomSemiJoin) —
    // identical rows to the plain semi-join, which IS the oracle. The
    // semi-join-reduction pattern that shrinks the probe shuffle to the
    // matching rows at 100 TB.
    Query("q_runtime_filter", ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_returnflag"), col("l_extendedprice"), col("l_discount"))
      val hi = t(s, dir, "orders").where(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey").as("l_orderkey"))
      graft.ops.RuntimeFilter.bloomSemiJoin(li, hi, "l_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          Exact.roundSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy("l_returnflag")
    }),
      s"""SELECT l_returnflag, count(*) AS n_items,
            ${oSum("l_extendedprice*(1-l_discount)", "revenue")}
          FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                               WHERE o_totalprice > 400000)
          GROUP BY 1 ORDER BY 1"""),

    // ── Z-order layout audit (multi-dimensional data skipping) ──────────
    // Morton-interleave (l_partkey, l_suppkey) low 16 bits, bucket by the
    // curve's high bits (Layout.zOrderStats): per bucket, BOTH keys'
    // min/max spans — narrow spans on both dimensions are what lets
    // file-level stats prune either predicate. Pure bit arithmetic.
    Query("q_zorder", ((s, dir) =>
      graft.ops.Layout.zOrderStats(t(s, dir, "lineitem"),
          "l_partkey", "l_suppkey", bits = 16, bucketShift = 14)
        .orderBy("bucket")), {
      val z = (0 until 16).map(i =>
        s"(((CAST(l_partkey AS BIGINT) >> $i) & 1) << ${2 * i}) + " +
          s"(((CAST(l_suppkey AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH zv AS (
            SELECT l_partkey, l_suppkey, ($z) AS z FROM lineitem)
          SELECT (z >> 14) AS bucket, count(*) AS n,
            min(l_partkey) AS min_a, max(l_partkey) AS max_a,
            min(l_suppkey) AS min_b, max(l_suppkey) AS max_b,
            max(l_partkey) - min(l_partkey) AS span_a,
            max(l_suppkey) - min(l_suppkey) AS span_b
          FROM zv GROUP BY 1 ORDER BY bucket"""
    }),

    // ── UNPIVOT / melt (wide → long reshape) ────────────────────────────
    // Four lineitem measures melted to (measure, val) rows per line — the
    // reshape every metrics store runs; a narrow Expand (rows × measures),
    // no shuffle. Bounded to orderkey ≤ 100 for the gate output.
    Query("q_unpivot", ((s, dir) =>
      t(s, dir, "lineitem").where(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        // (orderkey, linenumber) is NOT unique in the synthetic lineitem —
        // val joins the sort so the output order is total (gate contract)
        .orderBy("l_orderkey", "l_linenumber", "measure", "val")),
      """SELECT l_orderkey, l_linenumber, measure, val
         FROM (SELECT l_orderkey, l_linenumber, l_quantity,
                 l_extendedprice, l_discount, l_tax
               FROM lineitem WHERE l_orderkey <= 100)
         UNPIVOT (val FOR measure IN
           (l_quantity, l_extendedprice, l_discount, l_tax))
         ORDER BY l_orderkey, l_linenumber, measure, val"""),

    // ── Sort / limit / top-k (TakeOrderedAndProject, no global sort) ─────
    Query("q_topk_orders", ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""),

    // ── Correlated EXISTS / NOT EXISTS (Catalyst decorrelation) ─────────
    // The subquery shape q_subquery's scalar form doesn't cover: per
    // nation, customers with ≥1 urgent-priority order AND no 'P'-status
    // order, written as genuine correlated EXISTS/NOT EXISTS through the
    // SQL surface so RewritePredicateSubquery is what's on trial —
    // Catalyst must decorrelate both into a semi and an anti hash join
    // on c_custkey (the plan gate would flag anything nested-loop).
    Query("q_exists_subquery", ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c_nationkey, count(*) AS n_customers
        FROM customer_v c
        WHERE EXISTS (SELECT 1 FROM orders_v o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders_v o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'P')
        GROUP BY c_nationkey ORDER BY c_nationkey""")
    }),
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT')
           AND NOT EXISTS (SELECT 1 FROM orders o2
                           WHERE o2.o_custkey = c.c_custkey
                             AND o2.o_orderstatus = 'P')
         GROUP BY c_nationkey ORDER BY c_nationkey"""),

    // ── Trimmed mean (robust central tendency) ──────────────────────────
    // 5 %-each-side trimmed mean of order value next to the raw mean —
    // the outlier-influence read. The trim cut is an EXACT integer rank
    // predicate (20·r > n ∧ 20·r ≤ 19·n — no double percent_rank at the
    // boundary), ranks tie-pinned by orderkey, means decimal-exact.
    //
    // Exact GLOBAL rank without a single-partition funnel: range-
    // repartitioned distributed ranking (graft.ops.Ranks.globalRank —
    // per-range local sorts + prefix-count offsets; the r12 plan was a
    // constant-key window, every row through one task's sort).
    Query("q_trimmed_mean", ((s, dir) => {
      val ranked = graft.ops.Ranks.globalRank(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        col("o_totalprice"), col("o_orderkey"))
      val kept = col("r") * 20L > col("n") && col("r") * 20L <= col("n") * 19L
      ranked.agg(
          count(lit(1)).as("n_total"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
          round(sum(col("x").cast("decimal(28,10)")).cast("double") /
            count(lit(1)), 4).as("mean_raw"),
          round(sum(when(kept, col("x").cast("decimal(28,10)")))
            .cast("double") / sum(when(kept, 1L).otherwise(0L)), 4)
            .as("mean_trimmed"))
    }),
      """WITH ranked AS (
           SELECT o_totalprice AS x,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r,
             count(*) OVER () AS n
           FROM orders)
         SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN r * 20 > n AND r * 20 <= n * 19
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
             / count(*), 4) AS mean_raw,
           ROUND(CAST(sum(CASE WHEN r * 20 > n AND r * 20 <= n * 19
                          THEN CAST(x AS DECIMAL(28,10)) END) AS DOUBLE)
             / sum(CASE WHEN r * 20 > n AND r * 20 <= n * 19
                   THEN 1 ELSE 0 END), 4) AS mean_trimmed
         FROM ranked"""),

    // ── Winsorized mean (clamp, don't drop) ─────────────────────────────
    // The trimmed mean's sibling for metrics where sample size must stay
    // fixed: the 5 %-tail values are CLAMPED to the kept band's boundary
    // values instead of discarded — winsor_sum = Σ kept + n_low·lo +
    // n_high·hi, all from ONE pass over the same distributed-rank
    // relation (Ranks.globalRank), no second scan. Same exact integer
    // rank cut as q_trimmed_mean; boundary values are exact conditional
    // min/max.
    Query("q_winsor_mean", ((s, dir) => {
      val ranked = graft.ops.Ranks.globalRank(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        col("o_totalprice"), col("o_orderkey"))
      val dec = "decimal(28,10)"
      val kept = col("r") * 20L > col("n") && col("r") * 20L <= col("n") * 19L
      ranked.agg(
          count(lit(1)).as("n_total"),
          sum(when(col("r") * 20L <= col("n"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("r") * 20L > col("n") * 19L, 1L).otherwise(0L))
            .as("n_high"),
          min(when(kept, col("x"))).as("lo_val"),
          max(when(kept, col("x"))).as("hi_val"),
          sum(when(kept, col("x").cast(dec))).as("kept_dec"),
          sum(col("x").cast(dec)).cast("double").as("sx"))
        .select(col("n_total"), col("n_low"), col("n_high"),
          col("lo_val"), col("hi_val"),
          round(col("sx") / col("n_total"), 4).as("mean_raw"),
          // boundary mass in DOUBLE (one exact-int × double product each),
          // quantized to the shared decimal scale before the exact add —
          // decimal×decimal would hit engine-specific precision widening
          round((col("kept_dec")
              + (col("n_low").cast("double") * col("lo_val")).cast(dec)
              + (col("n_high").cast("double") * col("hi_val")).cast(dec))
            .cast("double") / col("n_total"), 4).as("mean_winsor"))
    }),
      """WITH ranked AS (
           SELECT o_totalprice AS x,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r,
             count(*) OVER () AS n
           FROM orders),
         a AS (
           SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN r * 20 <= n THEN 1 ELSE 0 END) AS BIGINT)
               AS n_low,
             CAST(sum(CASE WHEN r * 20 > n * 19 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_high,
             min(CASE WHEN r * 20 > n AND r * 20 <= n * 19 THEN x END)
               AS lo_val,
             max(CASE WHEN r * 20 > n AND r * 20 <= n * 19 THEN x END)
               AS hi_val,
             sum(CASE WHEN r * 20 > n AND r * 20 <= n * 19
                 THEN CAST(x AS DECIMAL(28,10)) END) AS kept_dec,
             CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx
           FROM ranked)
         SELECT n_total, n_low, n_high, lo_val, hi_val,
           ROUND(sx / n_total, 4) AS mean_raw,
           ROUND(CAST(kept_dec
               + CAST(CAST(n_low AS DOUBLE) * lo_val AS DECIMAL(28,10))
               + CAST(CAST(n_high AS DOUBLE) * hi_val AS DECIMAL(28,10))
             AS DOUBLE) / n_total, 4) AS mean_winsor
         FROM a"""),

    // ── Weighted median / weighted p90 (exact, distributed) ─────────────
    // Order statistics where every row carries economic mass: the
    // quantity below which half the REVENUE sits (not half the rows) —
    // the inventory/pricing read. Exact via Ranks.globalCumWeight: the
    // decimal-exact running revenue in (quantity, row-id) order from
    // range-partitioned local windows + per-range weight offsets (the
    // q_trimmed_mean discipline with weight sums instead of counts), then
    // wp50/wp90 are conditional MINs over the threshold predicates
    // 2·cumw ≥ totw / 10·cumw ≥ 9·totw — all-decimal comparisons, no
    // division anywhere.
    Query("q_weighted_median", ((s, dir) => {
      val cw = graft.ops.Ranks.globalCumWeight(
        t(s, dir, "lineitem")
          .select(col("l_quantity"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice")),
        col("l_quantity"),
        col("l_orderkey") * 10L + col("l_linenumber"),
        col("l_extendedprice"))
      cw.agg(
        count(lit(1)).as("n_rows"),
        round(max(col("totw")).cast("double"), 4).as("total_weight"),
        min(when(col("cumw") * 2 >= col("totw"), col("x"))).as("wp50"),
        min(when(col("cumw") * 10 >= col("totw") * 9, col("x"))).as("wp90"))
    }),
      """WITH cw AS (
           SELECT l_quantity AS x,
             SUM(CAST(l_extendedprice AS DECIMAL(30,10)))
               OVER (ORDER BY l_quantity, l_orderkey * 10 + l_linenumber
                     ROWS UNBOUNDED PRECEDING) AS cumw
           FROM lineitem),
         t AS (
           SELECT CAST(count(*) AS BIGINT) AS n_rows,
             SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS totw
           FROM lineitem)
         SELECT n_rows,
           ROUND(CAST(totw AS DOUBLE), 4) AS total_weight,
           MIN(CASE WHEN cumw * 2 >= totw THEN x END) AS wp50,
           MIN(CASE WHEN cumw * 10 >= totw * 9 THEN x END) AS wp90
         FROM cw, t GROUP BY n_rows, totw"""),

    // ── NULL aggregation semantics (the engine-contract pin-down) ───────
    // One row that pins every NULL rule an aggregate pipeline silently
    // relies on, with NULLs planted in c_nationkey (3 → NULL): COUNT(*)
    // counts rows, COUNT(col)/COUNT(DISTINCT col) skip NULLs, AVG/MIN/MAX
    // ignore NULLs (decimal-exact mean over the non-null mass), an
    // all-NULL SUM is NULL (surfaced via the coalesce sentinel −1), and
    // GROUP BY collects NULLs into ONE group (n_groups = distinct + 1).
    // Single scan, two tiny aggregates — any engine migration diffs this
    // row first.
    Query("q_null_semantics", ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(nullif(col("c_nationkey"), lit(3)).as("ck"),
          col("c_acctbal"))
      val groups = c.groupBy(col("ck")).agg(count(lit(1)).as("gn"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("ck").isNull, col("gn")).otherwise(0L))
            .as("null_group_rows"))
      val base = c.agg(
        count(lit(1)).as("n_rows"),
        count(col("ck")).as("n_nonnull"),
        count_distinct(col("ck")).as("n_distinct"),
        round(sum(col("ck").cast("decimal(28,10)")).cast("double")
          / count(col("ck")), 6).as("avg_ck"),
        min(col("ck")).as("min_ck"),
        max(col("ck")).as("max_ck"),
        coalesce(sum(when(lit(false), col("ck"))), lit(-1L))
          .as("sum_all_null"))
      base.crossJoin(broadcast(groups)) // two 1-row aggregates
    }),
      """WITH c AS (SELECT nullif(c_nationkey, 3) AS ck FROM customer),
         g0 AS (SELECT ck, count(*) AS gn FROM c GROUP BY ck),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(sum(CASE WHEN ck IS NULL THEN gn ELSE 0 END)
                   AS BIGINT) AS null_group_rows
               FROM g0),
         b AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(count(ck) AS BIGINT) AS n_nonnull,
                 CAST(count(DISTINCT ck) AS BIGINT) AS n_distinct,
                 ROUND(CAST(sum(CAST(ck AS DECIMAL(28,10))) AS DOUBLE)
                   / count(ck), 6) AS avg_ck,
                 min(ck) AS min_ck, max(ck) AS max_ck,
                 CAST(coalesce(sum(CASE WHEN FALSE THEN ck END), -1)
                   AS BIGINT) AS sum_all_null
               FROM c)
         SELECT b.*, g.* FROM b, g"""),

    // ── Null-safe join semantics (<=> / IS NOT DISTINCT FROM) ───────────
    // The equality-semantics corner every engine must pin down: with
    // NULLs planted in the join keys (nationkey 3 → NULL on both sides),
    // plain `=` drops every NULL row while null-safe equality matches
    // NULL to NULL — here a planted 67×3-pair difference. Both
    // forms remain HASH joins in Spark (EqualNullSafe is a valid
    // equi-key); the four counts arrive as a union of independent
    // aggregates, never a scalar crossJoin.
    Query("q_nullsafe_join", ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(nullif(col("c_nationkey"), lit(3)).as("ck"))
      val sup = t(s, dir, "supplier")
        .select(nullif(col("s_nationkey"), lit(3)).as("sk"))
      val eq = c.join(sup, col("ck") === col("sk"))
        .agg(count(lit(1)).as("n"))
        .select(lit("eq_pairs").as("metric"), col("n"))
      val ns = c.join(sup, col("ck") <=> col("sk"))
        .agg(count(lit(1)).as("n"))
        .select(lit("nullsafe_pairs").as("metric"), col("n"))
      val nl = c.agg(sum(when(col("ck").isNull, 1L).otherwise(0L)).as("n"))
        .select(lit("null_keys_left").as("metric"), col("n"))
      val nr = sup.agg(sum(when(col("sk").isNull, 1L).otherwise(0L)).as("n"))
        .select(lit("null_keys_right").as("metric"), col("n"))
      eq.unionByName(ns).unionByName(nl).unionByName(nr).orderBy("metric")
    }),
      """WITH c AS (SELECT nullif(c_nationkey, 3) AS ck FROM customer),
         s AS (SELECT nullif(s_nationkey, 3) AS sk FROM supplier),
         eq AS (
           SELECT 'eq_pairs' AS metric, CAST(count(*) AS BIGINT) AS n
           FROM c JOIN s ON ck = sk),
         ns AS (
           SELECT 'nullsafe_pairs', CAST(count(*) AS BIGINT)
           FROM c JOIN s ON ck IS NOT DISTINCT FROM sk),
         nl AS (
           SELECT 'null_keys_left', CAST(sum(CASE WHEN ck IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) FROM c),
         nr AS (
           SELECT 'null_keys_right', CAST(sum(CASE WHEN sk IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) FROM s)
         SELECT * FROM eq UNION ALL SELECT * FROM ns
         UNION ALL SELECT * FROM nl UNION ALL SELECT * FROM nr
         ORDER BY metric"""),

    // ── Benford first-digit audit ────────────────────────────────────────
    // The forensic read on any money/measure column: leading-digit shares
    // vs Benford's log₁₀(1+1/d) expectation. The digit comes from the
    // STRING rendering of floor(value) — bigint renders identically in
    // both engines, where double→int casts do NOT (Spark truncates,
    // DuckDB rounds half-even: the cross-engine trap this query pins
    // down). One scan + one 9-row rollup; deviations that matter here
    // say "synthetic generator", not "fraud" — honestly.
    Query("q_benford", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(col("digit"), lit(1)))
      t(s, dir, "orders")
        .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
          .cast("int").as("digit"))
        .where(col("digit") >= 1)
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .select(col("digit"), col("n"),
          sum(col("n")).over(W).as("ntot"))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("ntot"), 6).as("share"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
            .as("benford"),
          round(col("n").cast("double") / col("ntot")
            - log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("dev"))
        .orderBy("digit")
    }),
      """WITH d AS (
           SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
             AS VARCHAR), 1, 1) AS INT) AS digit
           FROM orders),
         c AS (
           SELECT digit, CAST(count(*) AS BIGINT) AS n
           FROM d WHERE digit >= 1 GROUP BY digit),
         t AS (
           SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS ntot FROM c)
         SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / ntot, 6) AS share,
           ROUND(log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit), 6)
             AS benford,
           ROUND(CAST(n AS DOUBLE) / ntot
             - log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / digit), 6)
             AS dev
         FROM t ORDER BY digit"""),

    // ── Ordered string aggregation (string_agg / LISTAGG) ───────────────
    // The report-layer aggregate SQL engines ship as STRING_AGG(expr, sep
    // ORDER BY …): per nation, the top-3 customers by balance joined in
    // rank order. Spark has no ordered string_agg — the portable form is
    // collect_list(struct(rank, name)) → array_sort (struct order = rank
    // order) → transform → array_join, deterministic because the rank
    // prefix pins the order before the sort. Top-3 cut via one window;
    // the aggregate runs on ≤ 3 rows per group.
    Query("q_string_agg", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_nationkey"))
        .orderBy(desc("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_name"),
          row_number().over(W).as("rk"))
        .where(col("rk") <= 3)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("rk"), col("c_name")))),
              x => x.getField("c_name")),
            ",").as("top_names"))
        .orderBy("c_nationkey")
    }),
      """WITH r AS (
           SELECT c_nationkey, c_name,
             row_number() OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey) AS rk
           FROM customer)
         SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
           string_agg(c_name, ',' ORDER BY rk) AS top_names
         FROM r WHERE rk <= 3
         GROUP BY c_nationkey ORDER BY c_nationkey"""),

    // ── Zone-map skip audit (what data layout buys a range scan) ────────
    // The min/max-pruning effectiveness read behind every layout
    // decision: shard orders 32 ways under (a) date-clustered and (b)
    // hash-random placement, keep each shard's [min,max] date zone map,
    // and count how many shards a H1-1997 range predicate can skip
    // without opening. Clustered placement skips ~29/32; random skips 0
    // — the number that justifies q_zorder/sort-on-write. ntile here is
    // a fixture-scale stand-in for the writer's range partitioner; the
    // audit itself is two keyed aggregates per layout.
    Query("q_zonemap_skip", ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("d"))
      val lo = lit("1997-01-01 00:00:00").cast("timestamp_ntz")
      val hi = lit("1997-07-01 00:00:00").cast("timestamp_ntz")
      def audit(layout: String, orderCol: Column) =
        o.select(col("d"),
            ntile(32).over(W.partitionBy(pmod(col("o_orderkey"), lit(1L)))
              .orderBy(orderCol, col("o_orderkey"))).as("shard"))
          .groupBy(col("shard"))
          .agg(min("d").as("mn"), max("d").as("mx"),
            count(lit(1)).as("n_rows"))
          .agg(count(lit(1)).as("n_shards"),
            sum(col("n_rows")).as("n_total"),
            sum(when(col("mx") < lo || col("mn") >= hi, 1L).otherwise(0L))
              .as("n_skipped"),
            sum(when(col("mx") < lo || col("mn") >= hi, col("n_rows"))
              .otherwise(0L)).as("rows_skipped"))
          .select(lit(layout).as("layout"), col("n_shards"),
            col("n_skipped"), col("rows_skipped"),
            round(col("n_skipped").cast("double") / col("n_shards"), 6)
              .as("shard_skip_rate"),
            round(col("rows_skipped").cast("double") / col("n_total"), 6)
              .as("row_skip_rate"))
      audit("date_clustered", col("d"))
        .unionByName(audit("hash_random",
          pmod(graft.functions.Hashes.h60(col("o_orderkey").cast("string")),
            lit(1048576L))))
        .orderBy("layout")
    }), {
      val h = graft.functions.Hashes.h60Sql("CAST(o_orderkey AS VARCHAR)")
      s"""WITH o AS (
           SELECT o_orderkey, o_orderdate AS d,
             ($h) % 1048576 AS hkey
           FROM orders),
         s1 AS (
           SELECT d, ntile(32) OVER (ORDER BY d, o_orderkey) AS shard
           FROM o),
         s2 AS (
           SELECT d, ntile(32) OVER (ORDER BY hkey, o_orderkey) AS shard
           FROM o),
         z1 AS (
           SELECT shard, min(d) AS mn, max(d) AS mx,
             CAST(count(*) AS BIGINT) AS n_rows
           FROM s1 GROUP BY shard),
         z2 AS (
           SELECT shard, min(d) AS mn, max(d) AS mx,
             CAST(count(*) AS BIGINT) AS n_rows
           FROM s2 GROUP BY shard),
         a1 AS (
           SELECT 'date_clustered' AS layout,
             CAST(count(*) AS BIGINT) AS n_shards,
             CAST(sum(n_rows) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN mx < TIMESTAMP '1997-01-01'
                        OR mn >= TIMESTAMP '1997-07-01'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
             CAST(sum(CASE WHEN mx < TIMESTAMP '1997-01-01'
                        OR mn >= TIMESTAMP '1997-07-01'
                      THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped
           FROM z1),
         a2 AS (
           SELECT 'hash_random' AS layout,
             CAST(count(*) AS BIGINT) AS n_shards,
             CAST(sum(n_rows) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN mx < TIMESTAMP '1997-01-01'
                        OR mn >= TIMESTAMP '1997-07-01'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
             CAST(sum(CASE WHEN mx < TIMESTAMP '1997-01-01'
                        OR mn >= TIMESTAMP '1997-07-01'
                      THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped
           FROM z2),
         u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
         SELECT layout, n_shards, n_skipped, rows_skipped,
           ROUND(CAST(n_skipped AS DOUBLE) / n_shards, 6)
             AS shard_skip_rate,
           ROUND(CAST(rows_skipped AS DOUBLE) / n_total, 6)
             AS row_skip_rate
         FROM u ORDER BY layout"""
    }),

    // ── Star join with DYNAMIC partition pruning (runtime dir skipping) ──
    // The 100 TB star-schema lever the static PartitionFilters gate can't
    // cover (VERDICT r15 #4): the fact is PARTITIONED by ship month
    // (derived once per fixture dir via Layout.ensurePartitioned — a
    // production fact is written this way at ingest), the selective
    // predicate sits on the month DIMENSION, and no literal month filter
    // exists at plan time. DPP injects a DynamicPruningExpression into
    // the fact scan's PartitionFilters (broadcast-reusing the dim), so
    // only Q2-1997's 3 of ~83 month directories are ever opened —
    // PartitionPruningSpec asserts exactly that on THIS query's executed
    // plan. The dim derives from ORDERS months (a calendar dimension);
    // Q2-1997 sits inside both tables' date spans at every sf.
    Query("q_star_dpp", ((s, dir) => {
      val fact = s.read.parquet(graft.ops.Layout.ensurePartitioned(
        t(s, dir, "lineitem").withColumn(
          "ship_month", date_format(col("l_shipdate"), "yyyy-MM")),
        s"target/fixtures/dpp_lineitem_${new java.io.File(dir).getName}",
        "ship_month",
        graft.ops.Layout.srcFingerprint(s"$dir/lineitem.parquet")))
      val dim = t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"),
          to_date(concat(date_format(col("o_orderdate"), "yyyy-MM"),
            lit("-01"))).as("m0"))
        .where(year(col("m0")) === 1997 && quarter(col("m0")) === 2)
        .select(col("ship_month")).distinct()
      fact.join(dim, Seq("ship_month"))
        .groupBy(col("ship_month"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity").cast("decimal(28,10)"))
            .cast("double"), 4).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(28,10)"))
            .cast("double"), 4).as("revenue"))
        .orderBy("ship_month")
    }),
      // the oracle reads the ORIGINAL flat lineitem — the partitioned copy
      // is a pure layout change, so results must be identical
      s"""WITH dim AS (
           SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
           FROM orders
           WHERE year(o_orderdate) = 1997 AND quarter(o_orderdate) = 2)
         SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(count(*) AS BIGINT) AS n_items,
           ${oSum("l_quantity", "sum_qty")},
           ${oSum("l_extendedprice", "revenue")}
         FROM lineitem
         JOIN dim ON strftime(l_shipdate, '%Y-%m') = dim.ship_month
         GROUP BY 1 ORDER BY 1"""),

    // ── DPP, second topology: subquery-IN (left-semi) pruning ───────────
    // VERDICT r16 #7: q_star_dpp proves runtime pruning on the inner
    // dim-join topology; this is the OTHER shape a real workload writes —
    // `WHERE ship_month IN (SELECT ...)`, which Catalyst rewrites to a
    // LEFT SEMI join. DPP's join-type rule admits LeftSemi for pruning
    // the left (fact) side, so the urgent-1996-Q3 month subquery must
    // inject a DynamicPruningExpression into the partitioned fact scan's
    // PartitionFilters exactly as the inner join does — and the semi join
    // needs no distinct on the dim side (semi semantics dedup for free).
    // PartitionPruningSpec asserts the runtime numFiles on this query.
    Query("q_star_dpp_in", ((s, dir) => {
      val fact = s.read.parquet(graft.ops.Layout.ensurePartitioned(
        t(s, dir, "lineitem").withColumn(
          "ship_month", date_format(col("l_shipdate"), "yyyy-MM")),
        s"target/fixtures/dpp_lineitem_${new java.io.File(dir).getName}",
        "ship_month",
        graft.ops.Layout.srcFingerprint(s"$dir/lineitem.parquet")))
      val wanted = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT" &&
          year(col("o_orderdate")) === 1996 &&
          quarter(col("o_orderdate")) === 3)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
      fact.join(wanted, Seq("ship_month"), "left_semi")
        .groupBy(col("ship_month"))
        .agg(count(lit(1)).as("n_items"),
          count_distinct(col("l_suppkey")).as("n_suppliers"),
          Exact.roundSum(
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("disc_revenue"))
        .orderBy("ship_month")
    }),
      // subquery-IN topology over the same flat lineitem: the engine's
      // left-semi DPP plan is a pure layout/plan change, results identical
      s"""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           ${oSum("l_extendedprice * (1 - l_discount)", "disc_revenue")}
         FROM lineitem
         WHERE strftime(l_shipdate, '%Y-%m') IN (
           SELECT strftime(o_orderdate, '%Y-%m') FROM orders
           WHERE o_orderpriority = '1-URGENT'
             AND year(o_orderdate) = 1996 AND quarter(o_orderdate) = 3)
         GROUP BY 1 ORDER BY 1"""),

    // ── Data-quality constraint audit (the Deequ-style check suite) ─────
    // One row per declared constraint: violation count, row total, pass
    // bit. In-scan checks (domain membership, range, null, key
    // uniqueness) fold into ONE conditional aggregate per table — eight
    // checks cost two scans, not eight — then unpivot via stack();
    // referential integrity is a keyed left join to the distinct parent
    // keys with a null-hit conditional count (no second counting pass,
    // no anti-join + scalar crossJoin). At 100 TB this is exactly the
    // shape a pre-training ingest gate runs nightly: linear scans +
    // map-side-combined aggregates, nothing pair-scale.
    Query("q_dq_checks", ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      def vio(c: Column) = sum(when(c, 1L).otherwise(0L))
      val oChecks = o.agg(
          count(lit(1)).as("n_total"),
          vio(col("o_orderstatus").isNull ||
            !col("o_orderstatus").isin("O", "F", "P")).as("v_status"),
          vio(col("o_totalprice").isNull || col("o_totalprice") <= 0.0)
            .as("v_price"),
          vio(col("o_orderdate").isNull).as("v_date"),
          (count(lit(1)) - count_distinct(col("o_orderkey"))).as("v_dup"))
        .select(expr("""stack(4,
            'orders_status_domain', v_status,
            'orders_price_positive', v_price,
            'orders_date_nonnull', v_date,
            'orders_key_unique', v_dup) AS (check_name, n_violations)"""),
          col("n_total"))
      val liChecks = li.agg(
          count(lit(1)).as("n_total"),
          vio(col("l_quantity").isNull || col("l_quantity") < 1.0 ||
            col("l_quantity") > 50.0).as("v_qty"),
          vio(col("l_discount").isNull || col("l_discount") < 0.0 ||
            col("l_discount") > 1.0).as("v_disc"),
          vio(col("l_shipdate").isNull).as("v_ship"))
        .select(expr("""stack(3,
            'lineitem_qty_range', v_qty,
            'lineitem_discount_range', v_disc,
            'lineitem_shipdate_nonnull', v_ship)
            AS (check_name, n_violations)"""),
          col("n_total"))
      val fk = o.join(
          t(s, dir, "customer").select(col("c_custkey")).distinct()
            .withColumn("__hit", lit(1L)),
          col("o_custkey") === col("c_custkey"), "left")
        .agg(count(lit(1)).as("n_total"),
          vio(col("__hit").isNull).as("n_violations"))
        .select(lit("orders_custkey_fk").as("check_name"),
          col("n_violations"), col("n_total"))
      oChecks.select("check_name", "n_violations", "n_total")
        .unionByName(liChecks.select("check_name", "n_violations", "n_total"))
        .unionByName(fk)
        .withColumn("pass", col("n_violations") === 0L)
        .orderBy("check_name")
    }),
      """WITH oagg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN o_orderstatus IS NULL
                        OR o_orderstatus NOT IN ('O','F','P')
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
             CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0.0
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
             CAST(sum(CASE WHEN o_orderdate IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_date,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_dup
           FROM orders),
         liagg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
                        OR l_quantity > 50.0
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
             CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0
                        OR l_discount > 1.0
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
             CAST(sum(CASE WHEN l_shipdate IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_ship
           FROM lineitem),
         fk AS (
           SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN c.c_custkey IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
           FROM orders o
           LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON o.o_custkey = c.c_custkey),
         checks AS (
           SELECT 'orders_status_domain' AS check_name,
                  v_status AS n_violations, n_total FROM oagg
           UNION ALL SELECT 'orders_price_positive', v_price, n_total
             FROM oagg
           UNION ALL SELECT 'orders_date_nonnull', v_date, n_total FROM oagg
           UNION ALL SELECT 'orders_key_unique', v_dup, n_total FROM oagg
           UNION ALL SELECT 'lineitem_qty_range', v_qty, n_total FROM liagg
           UNION ALL SELECT 'lineitem_discount_range', v_disc, n_total
             FROM liagg
           UNION ALL SELECT 'lineitem_shipdate_nonnull', v_ship, n_total
             FROM liagg
           UNION ALL SELECT 'orders_custkey_fk', n_violations, n_total
             FROM fk)
         SELECT check_name, n_violations, n_total,
           n_violations = 0 AS pass
         FROM checks ORDER BY check_name"""),

    // ── k-anonymity audit over quasi-identifier groupings ───────────────
    // The privacy read a curation stack runs before releasing user-keyed
    // training slices: group rows by the quasi-identifier tuple, bucket
    // the group sizes k into re-identification risk bands (k=1 unique,
    // 2-4 weak, 5-9, 10+), and report group/row mass per band — once for
    // the full QI tuple and once for the generalized (coarsened) tuple,
    // so the output shows how much suppression generalization buys. Two
    // keyed aggregates + a tiny rollup each; nothing pair-scale at any
    // corpus size.
    Query("q_k_anonymity", ((s, dir) => {
      val c = t(s, dir, "customer")
      def audit(qi: String, keys: Column*) =
        c.groupBy(keys: _*).agg(count(lit(1)).as("k"))
          .select(lit(qi).as("qi"),
            when(col("k") === 1L, "k=1")
              .when(col("k") < 5L, "k=2-4")
              .when(col("k") < 10L, "k=5-9")
              .otherwise("k>=10").as("k_band"),
            col("k"))
          .groupBy(col("qi"), col("k_band"))
          .agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_rows"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      audit("nation_segment_balbucket", col("c_nationkey"),
          col("c_mktsegment"), floor(col("c_acctbal") / 100.0).as("bb"))
        .unionByName(audit("nation_segment", col("c_nationkey"),
          col("c_mktsegment")))
        .orderBy("qi", "k_band")
    }),
      """WITH g1 AS (
           SELECT count(*) AS k FROM customer
           GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal / 100.0)),
         g2 AS (
           SELECT count(*) AS k FROM customer
           GROUP BY c_nationkey, c_mktsegment),
         u AS (
           SELECT 'nation_segment_balbucket' AS qi, k FROM g1
           UNION ALL SELECT 'nation_segment', k FROM g2),
         banded AS (
           SELECT qi,
             CASE WHEN k = 1 THEN 'k=1'
                  WHEN k < 5 THEN 'k=2-4'
                  WHEN k < 10 THEN 'k=5-9'
                  ELSE 'k>=10' END AS k_band, k
           FROM u)
         SELECT qi, k_band, CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(k) AS BIGINT) AS n_rows,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
         FROM banded GROUP BY qi, k_band ORDER BY qi, k_band"""),
  )
}
