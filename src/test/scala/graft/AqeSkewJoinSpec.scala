package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec

/** AQE skew-join split — the runtime answer to the 100 TB failure mode a
  * Zipf key distribution creates: one hot join key lands an entire
  * shuffle partition on one task and the stage's wall-clock becomes that
  * task. `spark.sql.adaptive.skewJoin` detects the oversized partition
  * from the map-output statistics and splits it into advisory-sized
  * sub-partitions, duplicating the other side's matching partition — no
  * manual salting, identical results.
  *
  * This spec PROVES the mechanism fires on a planted-skew join (the
  * executed SortMergeJoin carries `isSkewJoin=true` and the skewed side's
  * AQEShuffleRead fans the hot partition out into multiple sub-reads),
  * proves it does NOT fire with the flag off, and proves both plans agree
  * with the exact result. [[graft.ops.Skew.saltedJoin]] remains the
  * manual tool for the cases AQE can't reach (shuffle-hash joins, skewed
  * aggregations); this gate covers the one it can.
  *
  * Thresholds are lowered to fixture scale (the defaults are 256 MB
  * partitions — driver-box data would never trip them); the DETECTION
  * arithmetic (size > max(factor × median, threshold) → split to
  * advisory size) is scale-free, so the gated behavior is the 100 TB one.
  */
class AqeSkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits a planted skewed partition; result identical with/without") {
    val dir = tempDir("aqeskew")
    // one hot key (0) with 100k rows; 50 cold keys with 2k rows each. The
    // md5 payload keeps shuffle bytes incompressible so the map-output
    // statistics the detector reads reflect real sizes.
    spark.range(100000L)
      .select(lit(0L).as("k"), md5(col("id").cast("string")).as("pay"))
      .unionAll(spark.range(100000L)
        .select((col("id") % 50L + 1L).as("k"),
          md5((col("id") + 7L).cast("string")).as("pay")))
      .write.parquet(dir.resolve("fact").toString)
    spark.range(1020L)
      .select((col("id") % 51L).as("k"), (col("id") * 3L).as("dv"))
      .write.parquet(dir.resolve("dim").toString)
    val fact = spark.read.parquet(dir.resolve("fact").toString)
    val dim = spark.read.parquet(dir.resolve("dim").toString)

    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ).map(k => k -> spark.conf.getOption(k)).toMap
    def restore(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    try {
      // force the sort-merge path (a broadcast dim would sidestep the
      // shuffle entirely — the honest emulation of a dim too big to
      // broadcast) and scale the detector to fixture bytes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")

      // downstream of the join: a GLOBAL aggregate only. A groupBy on the
      // join key would reuse the join's hash distribution, and
      // OptimizeSkewedJoin (correctly) refuses to split a partition some
      // downstream operator requires intact — the same veto a production
      // plan hits unless spark.sql.adaptive.forceOptimizeSkewedJoin
      // accepts the extra exchange. The content-sensitive checksum keeps
      // the with/without comparison honest.
      def runJoin(): (org.apache.spark.sql.DataFrame, Seq[Any], Double) = {
        val j = fact.join(dim, Seq("k"))
          .agg(count(lit(1)).as("n"), sum(col("dv")).as("s"),
            sum(crc32(col("pay"))).as("cp"))
        val t0 = System.nanoTime()
        val row = j.collect().head.toSeq
        (j, row, (System.nanoTime() - t0) / 1e9)
      }

      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val (jOn, rowOn, tOn) = runJoin()
      val nodesOn = collectPlanNodes(jOn.queryExecution.executedPlan)
      val smjOn = nodesOn.collect { case s: SortMergeJoinExec => s }
      assert(smjOn.nonEmpty, "expected a sort-merge join in the skew demo")
      assert(smjOn.exists(_.isSkewJoin),
        s"AQE did not mark the join as skew-optimized:\n" +
          jOn.queryExecution.executedPlan)
      // the skewed side's AQEShuffleRead must fan the hot partition into
      // more sub-reads than the static shuffle-partition count — the
      // split itself, not just the marker flag
      val staticParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val reads = nodesOn.collect { case r: AQEShuffleReadExec => r }
      assert(reads.exists(_.partitionSpecs.size > staticParts),
        s"no AQEShuffleRead expanded past $staticParts partitions: " +
          reads.map(_.partitionSpecs.size).mkString(", "))

      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val (jOff, rowOff, tOff) = runJoin()
      val smjOff = collectPlanNodes(jOff.queryExecution.executedPlan)
        .collect { case s: SortMergeJoinExec => s }
      assert(smjOff.nonEmpty && !smjOff.exists(_.isSkewJoin),
        "skew optimization fired with the flag off")

      // identical results either way (the split is execution-only):
      // 200k fact rows × 20 dim rows per key = 4M joined
      assert(rowOn.head === 4000000L)
      assert(rowOn === rowOff)
      info(f"skewJoin on: $tOn%.2f s, off: $tOff%.2f s (fixture-scale)")
    } finally restore()
  }
}
