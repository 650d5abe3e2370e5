package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact GLOBAL ranking without a single-partition funnel — the
  * distributed order-statistics kernel behind the robust-stats queries
  * (trimmed/winsorized means).
  *
  * The naive form is a constant-key window: every row through one task's
  * sort — correct, and exactly the straggler a 100× scale-up turns into
  * the job. Instead: range-repartition on the sort key, rank locally per
  * range partition, then add per-range prefix-count offsets (one bounded
  * driver collect of a row per range). Each task sorts only its own range
  * slice; the collect is partition-count-scale, never data-scale. The
  * range count is the session's `spark.sql.shuffle.partitions`
  * ([[Sessions.builder]] sets it to the core count). The persist barrier
  * pins partition ids so the offset pass and the rank pass read
  * identical slices.
  */
object Ranks {

  private val Pid = "__gr_pid"

  /** `df` range-partitioned by `orderCols` into the session's shuffle
    * partition count, each row tagged with its range id `__gr_pid`,
    * persisted so every later pass reads the same slices. */
  private def rangeParted(df: DataFrame, orderCols: Seq[Column]): DataFrame =
    df.repartitionByRange(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        orderCols: _*)
      .withColumn(Pid, spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The shared offset step: `parted`'s per-range totals of the aggregate
    * `measure` (a count or a sum), collected to the driver (one row per
    * range), as (range id → total over all LOWER ranges, grand total). */
  private def rangeOffsets(parted: DataFrame, measure: Column)
      : (Map[Int, BigDecimal], BigDecimal) = {
    val per = parted.groupBy(col(Pid))
      .agg(measure.cast("decimal(38,10)"))
      .orderBy(col(Pid))
      .collect().map(r => (r.getInt(0), BigDecimal(r.getDecimal(1))))
    val prefix = per.map(_._2).scanLeft(BigDecimal(0))(_ + _)
    (per.map(_._1).zip(prefix.init).toMap, prefix.last)
  }

  /** `df` extended with `r` (1-based exact global rank by (sortCol,
    * tieCol) — tieCol must make the order total) and `n` (total rows).
    * Output columns: sortCol aliased `x`, tieCol aliased `tie` (carried
    * through so callers can join rankings back to rows), rank `r`,
    * total `n` — [[globalRankAll]] over that projected pair.
    */
  def globalRank(df: DataFrame, sortCol: Column, tieCol: Column): DataFrame =
    globalRankAll(df.select(sortCol.as("x"), tieCol.as("tie")),
      Seq(col("x"), col("tie")))

  /** Per-GROUP sibling of [[globalRank]]: exact 1-based rank of every row
    * WITHIN its group by (sortCol, tieCol), plus the group size `n` —
    * without giving any single task a whole group's sort (the
    * `Window.partitionBy(grp)` form funnels each group through one task:
    * with few heavy groups that is the same 100×-scale cliff as the
    * constant-key window, and the same cliff as the exact
    * percentile/median builtins, whose aggregation state is a value→count
    * map per group — VERDICT r15 #3).
    *
    * Discipline: range-repartition on (grp, sort, tie) so each group
    * spans a contiguous run of range partitions; rank locally per
    * (partition, group); add per-(partition, group) prefix-count offsets.
    * The offset relation is ≤ ranges × |groups| rows, built
    * DISTRIBUTED (a tiny window over the per-slice counts) and broadcast
    * back — no driver collect at all. Output: `g`, `x`, `tie`, rank `r`,
    * group size `n`.
    */
  def groupedRank(df: DataFrame, grpCol: Column, sortCol: Column,
                  tieCol: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val parted = rangeParted(
      df.select(grpCol.as("g"), sortCol.as("x"), tieCol.as("tie")),
      Seq(col("g"), col("x"), col("tie")))
    val cnts = parted.groupBy(col(Pid), col("g")).agg(count(lit(1)).as("c"))
    val offs = cnts.select(col(Pid), col("g"),
      coalesce(sum(col("c")).over(W.partitionBy(col("g"))
        .orderBy(col(Pid))
        .rowsBetween(W.unboundedPreceding, -1)), lit(0L)).as("off"),
      sum(col("c")).over(W.partitionBy(col("g"))).as("n"))
    parted.join(broadcast(offs), Seq(Pid, "g"))
      .select(col("g"), col("x"), col("tie"),
        (row_number().over(W.partitionBy(col(Pid), col("g"))
          .orderBy(col("x"), col("tie"))).cast("long") + col("off")).as("r"),
        col("n"))
  }

  /** [[globalRank]] generalized to CARRY the caller's columns: appends
    * exact 1-based global rank `r` (long, by `orderCols` — which must be
    * a total order over df, or ranks among ties are partition-placement-
    * dependent) and total row count `n` (long) to ALL of df's columns,
    * with the same range-partitioned discipline (per-range local
    * row_number + per-range prefix-count offsets). Descending orders are
    * respected: pass `col(...).desc` and both the range partitioner and
    * the local window honor it, so offsets stay consistent whatever the
    * direction. The swap-in replacement for the constant-key
    * `Window.partitionBy(pmod(k, 1))` global sort, which funnels the
    * whole relation through ONE task (VERDICT r18 #1).
    */
  def globalRankAll(df: DataFrame, orderCols: Seq[Column]): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val parted = rangeParted(df, orderCols)
    val (offs, total) = rangeOffsets(parted, count(lit(1)))
    val offsets: Map[Int, Long] = offs.map { case (p, o) => p -> o.toLong }
    parted
      .withColumn("r", row_number().over(
          W.partitionBy(col(Pid)).orderBy(orderCols: _*)).cast("long")
        + element_at(typedlit(offsets), col(Pid)))
      .withColumn("n", lit(total.toLong))
      .drop(Pid)
  }

  /** Exact long integer division a div b for non-negative longs — both
    * operands pass through double, so the numerator is first made exactly
    * divisible (a − a mod b), making the IEEE quotient exact for
    * |values| < 2⁵³ (any realistic row count).
    */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Exact mirror of Spark's `ntile(k)` bucket assignment, computed from
    * a 1-based global rank `r` and total count `n` (both long) instead of
    * a window — so a global ntile can ride [[globalRankAll]] instead of a
    * single-partition sort. Spark's NTile puts the first n mod k buckets
    * at size ⌊n/k⌋+1 and the rest at ⌊n/k⌋; this reproduces that boundary
    * layout bit-for-bit (same as SQL-standard/DuckDB ntile), returning
    * INT like the builtin.
    */
  def ntileFromRank(r: Column, n: Column, k: Int): Column = {
    require(k >= 1, s"k: $k")
    val kk = lit(k.toLong)
    val bs = idiv(n, kk)             // ⌊n/k⌋
    val pad = n - bs * kk            // n mod k buckets get one extra row
    val padRows = pad * (bs + lit(1L))
    when(r <= padRows, idiv(r - 1L, bs + lit(1L)) + 1L)
      .otherwise(pad + idiv(r - lit(1L) - padRows, bs) + 1L)
      .cast("int")
  }

  /** The WEIGHTED sibling: exact global running weight in (sortCol,
    * tieCol) order — `(x, w, cumw, totw)` with `cumw` the INCLUSIVE
    * decimal-exact prefix sum of `weightCol`. Same range-partitioned
    * discipline (per-range local window + per-range weight-sum offsets);
    * the kernel behind exact weighted quantiles at scale, where a
    * constant-key running-sum window would funnel every row through one
    * task.
    */
  def globalCumWeight(df: DataFrame, sortCol: Column, tieCol: Column,
                      weightCol: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dec = "decimal(30,10)"
    val parted = rangeParted(df.select(sortCol.as("x"), tieCol.as("tie"),
        weightCol.cast(dec).as("w")), Seq(col("x"), col("tie")))
    val (offs, totw) = rangeOffsets(parted, sum(col("w")))
    val offsets: Map[Int, java.math.BigDecimal] = // pid → weight below
      offs.map { case (p, o) => p -> o.bigDecimal }
    val w = W.partitionBy(col(Pid)).orderBy(col("x"), col("tie"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    parted.select(col("x"), col("w"),
      // offsets carry ≤ 10-dp values: the cast back to the shared scale
      // is exact, and keeps the add inside one decimal precision class
      (sum(col("w")).over(w)
        + element_at(typedlit(offsets), col(Pid)).cast(dec)).as("cumw"),
      lit(totw.bigDecimal).cast(dec).as("totw"))
  }
}
