package graft

import graft.obs.Collector
import org.apache.spark.sql.functions._

/** Measured scale posture: the word-count pipeline's shuffle volume scales
  * with DISTINCT keys, not input bytes (map-side partial aggregation) —
  * the property that makes the plan survive a 100× input blow-up
  * (WordCount scaladoc's central claim, verified with real task metrics).
  */
class ShuffleVolumeSpec extends SparkSpec {
  import spark.implicits._

  private def shuffleBytesOf(action: => Unit): Long =
    new Collector(spark).traced("shuffle-volume")(())(_ => action).shuffleWriteBytes

  test("8x the input bytes, same distinct words => shuffle stays ~flat") {
    val vocab = Vector.tabulate(200)(i => s"word$i")
    val rnd = new scala.util.Random(3)
    val lines = Seq.fill(2000)(
      Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    // materialize both corpora as 8 parquet files OUTSIDE the measurement:
    // both runs then have the same map-partition count, so the only
    // measured exchange is the aggregation shuffle (a repartition inside
    // the measured job would itself shuffle proportionally to rows)
    val dirs = tempDir("shufvol")
    lines.toDF("text").repartition(8)
      .write.parquet(dirs.resolve("small").toString)
    Seq.fill(8)(lines).flatten.toDF("text").repartition(8)
      .write.parquet(dirs.resolve("big").toString)
    val small = spark.read.parquet(dirs.resolve("small").toString)
    val big = spark.read.parquet(dirs.resolve("big").toString)

    def runWc(df: org.apache.spark.sql.DataFrame): Long =
      shuffleBytesOf {
        graft.wc.WordCount.fromText(df, "text")
          .write.mode("overwrite").format("noop").save()
      }

    runWc(small) // warm-up: JIT + codegen outside the measurement
    val smallBytes = runWc(small)
    val bigBytes = runWc(big)
    assert(smallBytes > 0L)
    // 8x rows but identical key set: partial aggregation must absorb the
    // blow-up. Allow 2x headroom for partition-count effects — the point
    // is it's nowhere near 8x.
    assert(bigBytes < smallBytes * 2,
      s"shuffle grew with input bytes: small=$smallBytes big=$bigBytes")
    // sanity: the big corpus really is 8x the work
    val cnt = graft.wc.WordCount.fromText(big, "text")
      .agg(sum("cnt")).as[Long].head()
    assert(cnt === 8L * 2000 * 10)
  }

  test("bucketed lineitem drops the pair-build self-join exchange (q_basket_lift family)") {
    // the co-purchase pair build (q_basket_lift / q_label_prop): a
    // lineitem self-join on l_orderkey, then a pair aggregate. Reading a
    // Layout.writeBucketed copy, the join's input exchange must vanish
    // from the plan AND from the measured shuffle bytes — only the pair
    // aggregate's exchange (present either way) remains.
    val sfDir = "/root/testdata/sf0.001"
    requireFixtures(sfDir)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    val dir = tempDir("bktli")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    graft.ops.Layout.writeBucketed(li, "li_bucketed",
      dir.resolve("li").toString, "l_orderkey", 8, Seq("l_orderkey"))

    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.as("x").join(df.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
        .agg(count(lit(1)).as("sup"))

    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val plain = pairs(li)
      val bucketed = pairs(spark.table("li_bucketed"))
      val nPlain = plain.count()
      val nBucketed = bucketed.count()
      assert(nPlain === nBucketed && nPlain > 0L)

      // plan gate: the plain self-join shuffles its input on the join key;
      // the bucketed read satisfies the distribution from the layout
      val plainPlan = plain.queryExecution.executedPlan.toString
      val bktPlan = bucketed.queryExecution.executedPlan.toString
      assert(plainPlan.contains("hashpartitioning(l_orderkey"),
        s"expected a join-input exchange in the plain plan:\n$plainPlan")
      assert(!bktPlan.contains("hashpartitioning(l_orderkey"),
        s"bucketed join must not exchange on the join key:\n$bktPlan")

      // byte gate: the join-input shuffle disappears from task metrics too
      val plainBytes = shuffleBytesOf {
        pairs(li).write.mode("overwrite").format("noop").save()
      }
      val bktBytes = shuffleBytesOf {
        pairs(spark.table("li_bucketed"))
          .write.mode("overwrite").format("noop").save()
      }
      assert(plainBytes > 0L && bktBytes > 0L)
      assert(bktBytes < plainBytes,
        s"bucketed read should shuffle strictly less: " +
          s"plain=$plainBytes bucketed=$bktBytes")
      info(s"pair-build shuffle bytes: plain=$plainBytes " +
        s"bucketed=$bktBytes (${100 - bktBytes * 100 / plainBytes}% less)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE li_bucketed")
    }
  }
}
