package graft.tools

import graft.obs.Collector
import graft.ops.Plans
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** Timing evidence for the AQE skew-join gate (AqeSkewJoinSpec): plant a
  * Zipf-hot key in a lineitem replica at real fixture scale, join it
  * against the part dimension with broadcast disabled (the emulation of a
  * dim too big to broadcast), and time the join with
  * `spark.sql.adaptive.skewJoin` on vs off — plus each run's MAX task
  * wall-clock, the number that IS the stage's wall-clock when one hot
  * partition lands on one task. Diagnosis tool, not gated surface; the
  * recorded numbers live in BASELINE.md (round 15).
  *
  * Usage: runMain graft.tools.SkewProfile [sfDir] [replicate]
  */
object SkewProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicate = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = graft.Sessions.local("skew-profile")
    import spark.implicits._

    val tmp = java.nio.file.Files.createTempDirectory("skewprof")
    tmp.toFile.deleteOnExit()

    // planted skew: replicate lineitem `replicate`x and send HALF of all
    // rows to one hot part key; the rest keep their real l_partkey. The
    // replica is materialized as parquet OUTSIDE the measurement so both
    // timed variants read identical files.
    val hotKey = -1L
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
      .select(col("*"), explode(sequence(lit(1), lit(replicate))).as("rep"))
      .select(
        // 15/16 of all rows on the hot key — the stage IS the hot task
        // without the split
        when(pmod(col("l_orderkey") + col("rep"), lit(16)) =!= 0, lit(hotKey))
          .otherwise(col("l_partkey")).as("k"),
        col("l_extendedprice").as("price"))
      // ≥32 files → ≥32 shuffle MAP tasks: AQE splits a skewed reduce
      // partition by map-output ranges, so a single-mapper shuffle is
      // unsplittable no matter how skewed (the on-cluster analogue is
      // automatic — thousands of mappers)
      .repartition(32)
      .write.mode("overwrite").parquet(tmp.resolve("fact").toString)
    spark.read.parquet(s"$sfDir/part.parquet")
      .select(col("p_partkey").as("k"), col("p_retailprice").as("dv"))
      .unionAll(Seq((hotKey, java.math.BigDecimal.valueOf(1L))).toDF("k", "dv")
        .select(col("k"), col("dv").cast("decimal(12,2)")))
      .write.mode("overwrite").parquet(tmp.resolve("dim").toString)

    val fact = spark.read.parquet(tmp.resolve("fact").toString)
    val dim = spark.read.parquet(tmp.resolve("dim").toString)
    System.err.println(s"[skew] fact ${fact.count()} rows, dim ${dim.count()} rows")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // detector scaled to fixture bytes (defaults are 256 MB-class)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")

    def planShape(df: org.apache.spark.sql.DataFrame): String = {
      val nodes = Plans.collectNodes(df.queryExecution.executedPlan)
      val smj = nodes.collect { case s: SortMergeJoinExec => s"smj(skew=${s.isSkewJoin})" }
      val reads = nodes.collect { case r: AQEShuffleReadExec => r.partitionSpecs.size }
      s"${smj.mkString(",")} reads=${reads.mkString("/")}"
    }

    val collector = new Collector(spark)
    def timed(): (Double, Long, String) = {
      // collect, not a noop write: DataFrameWriter re-plans into its own
      // QueryExecution, so inspecting df.queryExecution after a write
      // reads the INITIAL adaptive plan (isFinalPlan=false) — the skew
      // evidence must come from the executed tree itself
      val df = fact.join(dim, Seq("k"))
        .agg(count(lit(1)), sum(col("price") * col("dv")))
      val r = collector.traced("skew-join")(df)(_.collect())
      (r.actionS, r.maxTaskRunMs, planShape(df))
    }

    for (enabled <- Seq(true, false, true, false)) {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", enabled.toString)
      timed() // warm
      val runs = Seq.fill(3)(timed())
      val med = runs.map(_._1).sorted.apply(1)
      println(f"[skew] skewJoin=$enabled%-5s median $med%6.2f s  " +
        f"(samples ${runs.map(r => f"${r._1}%.2f").mkString("[", ", ", "]")}, " +
        f"max task ${runs.map(_._2).max} ms, plan ${runs.last._3})")
    }
    spark.stop()
  }
}
