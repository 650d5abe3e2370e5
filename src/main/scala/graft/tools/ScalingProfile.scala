package graft.tools

import org.apache.spark.sql.SparkSession

/** Strong- and weak-scaling measurement for the word-count pipeline — the
  * direct analogue of the reference's headline benchmarks (strong scaling
  * of MPI word count over a fixed multi-GB corpus, ≈15× at 16 physical
  * cores; weak-scaling efficiency ≈0.90 — Documentation.md §3 in the
  * reference repo). This main (a) synthesizes a fixed corpus of 64 MB
  * text files under `target/scaling` (replicating the testdata document
  * bodies until the requested size), then (b) times the full tokenize→count→sort pipeline at a
  * ladder of local[N] widths, one fresh SparkSession per width.
  * Speedup/efficiency are reported against the FIRST width in the
  * ladder (and labelled with it — pass 1 first for a true-serial
  * baseline). Diagnosis/benchmark tool, not gated surface.
  *
  * Usage: runMain graft.tools.ScalingProfile [targetMB] [widths,...] [strong|weak|both]
  * The corpus must hold at least max(widths) files so the weak ladder
  * can keep bytes/thread constant — enforced, not silently capped.
  */
object ScalingProfile {

  private def dirBytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.isDirectory(dir)) 0L
    else {
      val s = java.nio.file.Files.list(dir)
      try s.mapToLong(p => p.toFile.length).sum() finally s.close()
    }

  private def dirFiles(dir: java.nio.file.Path): Seq[String] = {
    val s = java.nio.file.Files.list(dir)
    try s.sorted().toArray.map(_.toString).toSeq finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val targetMb = args.headOption.map(_.toInt).getOrElse(1024)
    val widths = args.drop(1).headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 2, 4, 8, 16, 32))
    val mode = args.drop(2).headOption.getOrElse("both")
    require(Set("strong", "weak", "both")(mode), s"mode: $mode")
    val dir = java.nio.file.Paths.get("target/scaling/corpus")
    val perFile = 64L * 1024 * 1024
    val nFiles = math.max(widths.max,
      math.ceil(targetMb * 1024.0 * 1024.0 / perFile).toInt)

    // ── corpus synthesis (reused across runs when already complete; the
    //    per-file size check tolerates the sub-64MB remainder a whole
    //    number of seed blocks leaves) ─────────────────────────────────
    val complete = java.nio.file.Files.isDirectory(dir) && {
      val fs = dirFiles(dir)
      fs.length >= nFiles &&
        fs.forall(f => new java.io.File(f).length >= perFile * 9 / 10)
    }
    if (!complete) {
      java.nio.file.Files.createDirectories(dir)
      // seed: the testdata document bodies (read-only input; output
      // stays under target/)
      val seed = new StringBuilder
      val docs = java.nio.file.Paths.get("/root/testdata/sf0.01/documents.parquet")
      if (java.nio.file.Files.exists(docs)) {
        val spark = SparkSession.builder().master("local[4]")
          .appName("scaling-corpus").getOrCreate()
        try {
          spark.read.parquet(docs.toString).select("text")
            .limit(2000).collect()
            .foreach(r => seed.append(r.getString(0)).append('\n'))
        } finally spark.stop()
      }
      val block = seed.toString.getBytes("UTF-8")
      require(block.nonEmpty,
        s"no seed material: $docs is not readable — cannot synthesize a corpus")
      val repsPerFile = math.max(1, (perFile / block.length).toInt)
      for (i <- 0 until nFiles) {
        val f = dir.resolve(f"part-$i%04d.txt")
        if (!java.nio.file.Files.exists(f) ||
            f.toFile.length < perFile * 9 / 10) {
          val out = new java.io.BufferedOutputStream(
            java.nio.file.Files.newOutputStream(f), 1 << 20)
          try (0 until repsPerFile).foreach(_ => out.write(block))
          finally out.close()
        }
      }
    }
    val corpusBytes = dirBytes(dir)
    println(f"[scaling] corpus ${corpusBytes / 1024.0 / 1024.0}%.0f MB at $dir")

    // ── strong scaling: fixed corpus, growing width ────────────────────
    val base = widths.head
    var t1 = Double.NaN
    if (mode != "weak") widths.foreach { n =>
      val spark = graft.Sessions.builder("graft-scaling", n.toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        // warm (JIT, codegen, page cache), then timed — Bench protocol
        def run(): Unit = graft.wc.WordCount.fromDirectory(spark, dir.toString)
          .write.mode("overwrite").format("noop").save()
        run()
        val t0 = System.nanoTime(); run()
        val sec = (System.nanoTime() - t0) / 1e9
        if (t1.isNaN) t1 = sec
        println(f"[scaling] local[$n%2d]  $sec%7.2f s  " +
          f"speedup-vs-local[$base] ${t1 / sec}%5.2f×  " +
          f"${corpusBytes / sec / 1024 / 1024}%6.0f MB/s")
      } finally spark.stop()
    }

    // ── weak scaling: fixed bytes PER THREAD, growing width ────────────
    // Per-width input = the first n × perThreadFiles corpus files, so the
    // byte/thread ratio is constant while the file set stays a prefix
    // (stable enumeration). nFiles ≥ widths.max guarantees the top width
    // is never short-changed (a silent cap would halve its work and
    // inflate the printed efficiency — review r9).
    val files = dirFiles(dir)
    val perThreadFiles = files.length / widths.max
    require(perThreadFiles >= 1,
      s"corpus has ${files.length} files < max width ${widths.max} — " +
        "raise targetMB so bytes/thread can stay constant")
    var tw1 = Double.NaN
    if (mode != "strong") widths.foreach { n =>
      val take = n * perThreadFiles
      val spark = graft.Sessions.builder("graft-weak", n.toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        def run(): Unit =
          graft.wc.WordCount.fromText(spark.read.text(files.take(take): _*), "value")
            .write.mode("overwrite").format("noop").save()
        run()
        val t0 = System.nanoTime(); run()
        val sec = (System.nanoTime() - t0) / 1e9
        if (tw1.isNaN) tw1 = sec
        println(f"[weak]    local[$n%2d]  $take%3d files  $sec%7.2f s  " +
          f"efficiency-vs-local[$base] ${tw1 / sec}%5.2f")
      } finally spark.stop()
    }
  }
}
