package graft.tools

/** One-off cache-reuse probe for the BPE bench queries (bench r9): runs
  * q_bpe_apply / q_bpe_train twice like Bench's warm+timed protocol and
  * prints both timings plus whether the second run's plan picked up the
  * warm run's InMemoryRelations. Diagnosis tool, not gated surface.
  *
  * Second mode (r10, VERDICT #6): `BpeProfile <sfDir> trainK=64,256`
  * times a FULL bpeTrain at each listed k (checkpointEvery=4, the
  * large-k cadence the scaladoc prescribes) and prints seconds-per-merge
  * — the wall-clock-linearity evidence behind the "per-round cost
  * constant in k" claim in `CorpusStats.scala`.
  */
object BpeProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    args.drop(1).find(_.startsWith("trainK=")) match {
      case Some(spec) =>
        trainProfile(sfDir, spec.stripPrefix("trainK=")
          .split(",").map(_.trim.toInt).toSeq)
        return
      case None => ()
    }
    val names =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq("q_bpe_apply", "q_bpe_train", "q_semdedup")
    val spark = graft.Sessions.local("bpe-profile")
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (name <- names) {
      val w = once(name); val t = once(name)
      val qe = graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
      val imr = qe.optimizedPlan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
      }.size
      println(f"[profile] $name%-14s warm $w%.2f timed $t%.2f cachedLeaves $imr")
      if (name == "q_bpe_apply")
        println(qe.optimizedPlan.treeString.linesIterator
          .take(40).mkString("\n"))
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  private def trainProfile(sfDir: String, ks: Seq[Int]): Unit = {
    val spark = graft.Sessions.local("bpe-train-profile")
    import org.apache.spark.sql.functions._
    val tok = graft.ops.CorpusStats.tokenStream(
      spark.read.parquet(s"$sfDir/documents.parquet"),
      "doc_id", graft.ops.TextAnalysis.tokens(col("text")))
    for (k <- ks) {
      val t0 = System.nanoTime()
      graft.ops.CorpusStats.bpeTrain(tok, k, checkpointEvery = 4)
        .write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[profile] bpeTrain k=$k%-4d total $sec%8.2f s  " +
        f"per-merge ${sec / k}%.3f s")
      graft.Sessions.releaseCaches(spark)
    }
    spark.stop()
  }
}
