package graft.wc

import graft.SparkSpec

/** The reference's composed pipeline: counting semantics, the text-dir
  * source, per-file lineage, the CSV sink byte contract, and the
  * partition-invariance property the reference spends
  * `word_count_mpi.c:259-325` hand-building, also as a property against a
  * byte-walker oracle (SURVEY §2.3 items 1–10).
  */
class WordCountSpec extends SparkSpec {
  import spark.implicits._

  test("fromText: case-insensitive counts, lowercased keys, ascending order") {
    val df = Seq("The the THE", "fox, Fox. box").toDF("text")
    val rows = WordCount.fromText(df, "text").as[(String, Long)].collect().toSeq
    assert(rows === Seq(("box", 1L), ("fox", 2L), ("the", 3L)))
  }

  test("fromText: counts are weights-1 sums, not distinct (cell.c:10-15)") {
    val df = Seq("a a a b b c").toDF("text")
    val rows = WordCount.fromText(df, "text").as[(String, Long)].collect().toSeq
    assert(rows === Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("fromDirectory: a dir of text files is one logical corpus (O1)") {
    val dir = tempDir("corpus")
    writeFile(dir, "a.txt", "Hello world\nhello")
    writeFile(dir, "b.txt", "WORLD! again")
    val rows = WordCount.fromDirectory(spark, dir.toString)
      .as[(String, Long)].collect().toSeq
    assert(rows === Seq(("again", 1L), ("hello", 2L), ("world", 2L)))
  }

  test("hidden files: names starting with _ or . are not counted, and alone fail the CLI check") {
    val dir = tempDir("hidden")
    writeFile(dir, "_a.txt", "alpha")
    assert(!WordCountCli.hasRegularFile(dir.toString), "only _a.txt must exit 1")
    writeFile(dir, ".b.txt", "beta")
    writeFile(dir, "c.txt", "Gamma gamma")
    assert(WordCountCli.hasRegularFile(dir.toString))
    val rows = WordCount.fromDirectory(spark, dir.toString)
      .as[(String, Long)].collect().toSeq
    assert(rows === Seq(("gamma", 2L)))
  }

  test("fromDirectory with a custom delimiter file (define_delimiters analogue)") {
    val dir = tempDir("corpus2")
    writeFile(dir, "a.txt", "a,b|c,d")
    val ddir = tempDir("delims2")
    writeFile(ddir, "d.txt", "|") // comma NOT a delimiter under this config
    val rows = WordCount
      .fromDirectory(spark, dir.toString, Some(ddir.resolve("d.txt").toString))
      .as[(String, Long)].collect().toSeq
    assert(rows === Seq(("a,b", 1L), ("c,d", 1L)))
  }

  test("perFile keeps per-file lineage and per-file counts") {
    val dir = tempDir("corpus3")
    writeFile(dir, "a.txt", "x x y")
    writeFile(dir, "b.txt", "y z")
    val rows = WordCount.perFile(spark, dir.toString)
      .as[(String, String, Long)].collect().toSeq
      .map { case (f, w, c) => (f.split('/').last, w, c) }
    assert(rows === Seq(
      ("a.txt", "x", 2L), ("a.txt", "y", 1L),
      ("b.txt", "y", 1L), ("b.txt", "z", 1L)))
  }

  /** §5.3 property: the result is independent of how the input bytes are
    * split into partitions — the invariant the reference's byte-range
    * boundary repair exists to guarantee (`word_count_mpi.c:296-322`).
    * We vary `spark.sql.files.maxPartitionBytes` so the text source
    * actually produces different byte-range splits of the same file.
    */
  test("partition invariance: counts identical for 1/2/4/7-ish byte splits") {
    val rnd = new scala.util.Random(42)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val corpus = Seq.fill(400)(
      Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" "))
      .mkString("\n")
    val dir = tempDir("corpusInv")
    writeFile(dir, "big.txt", corpus)

    val conf = "spark.sql.files.maxPartitionBytes"
    val costConf = "spark.sql.files.openCostInBytes"
    val saved = spark.conf.get(conf)
    val savedCost = spark.conf.get(costConf)
    try {
      val results = Seq("16", "128", "1024", "1048576").map { bytes =>
        spark.conf.set(conf, bytes)
        spark.conf.set(costConf, "0")
        WordCount.fromDirectory(spark, dir.toString)
          .as[(String, Long)].collect().toSeq
      }
      assert(results.distinct.size === 1,
        "word counts must not depend on byte-split boundaries")
      // and the total equals the number of tokens in the corpus
      val expectedTotal = corpus.split("\\s+").count(_.nonEmpty)
      assert(results.head.map(_._2).sum === expectedTotal)
    } finally {
      // restore BOTH confs — the session is shared across suites, and a
      // leaked openCostInBytes=0 changes split counts for plan-sensitive
      // specs that run later (ordering-dependent flakes)
      spark.conf.set(conf, saved)
      spark.conf.set(costConf, savedCost)
    }
  }

  /** Ground truth for the property and the golden corpus: each file is its
    * own byte stream, split at the bytes of the 36-delimiter table (all
    * ASCII, so a delimiter byte never sits inside a UTF-8 sequence), each
    * token decoded and lowercased with `Locale.ROOT`. Shares no code with
    * the engine's tokenizer. */
  private def byteWalkerCounts(files: Seq[Array[Byte]]): Map[String, Long] = {
    val isDelim = new Array[Boolean](256)
    graft.tok.Tokenizer.DefaultDelimiters.foreach(c => isDelim(c.toInt) = true)
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    val tok = new java.io.ByteArrayOutputStream
    def flush(): Unit = if (tok.size > 0) {
      val w = new String(tok.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        .toLowerCase(java.util.Locale.ROOT)
      counts.update(w, counts.getOrElse(w, 0L) + 1L)
      tok.reset()
    }
    files.foreach { bytes =>
      bytes.foreach(b => if (isDelim(b & 0xff)) flush() else tok.write(b))
      flush()
    }
    counts.toMap
  }

  /** SURVEY §2.3 items 1–9 as a property: over random corpora of 1–4 files
    * (ASCII alphanumerics, `é`/`É`, all 36 delimiters, LF and CRLF), the
    * counts equal the byte walker's at every split size. Each file ends
    * in a delimiter: §2.3 defines no word that spans two files. */
  test("property: fromDirectory counts == byte-walker oracle at 16 B/128 B/1 MiB splits") {
    import org.scalacheck.{Gen, Prop, Test}
    val delims = graft.tok.Tokenizer.DefaultDelimiters.toVector.sorted.map(_.toString)
    val fragment: Gen[String] = Gen.frequency(
      6 -> Gen.oneOf("a", "A", "b", "B", "1", "é", "É"),
      3 -> Gen.alphaNumChar.map(_.toString),
      3 -> Gen.oneOf(delims),
      1 -> Gen.oneOf("\n", "\r\n"))
    val file: Gen[String] = for {
      n <- Gen.choose(0, 300)
      body <- Gen.listOfN(n, fragment)
      end <- Gen.oneOf(delims)
    } yield body.mkString + end
    val corpus: Gen[Seq[String]] = Gen.choose(1, 4).flatMap(Gen.listOfN(_, file))
    val prop = Prop.forAllNoShrink(corpus) { texts =>
      val dir = tempDir("wcProp")
      texts.zipWithIndex.foreach { case (t, i) => writeFile(dir, s"f$i.txt", t) }
      val want = byteWalkerCounts(texts.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      val bad = Seq("16", "128", "1048576").flatMap { bytes =>
        val got = withConf("spark.sql.files.maxPartitionBytes" -> bytes,
            "spark.sql.files.openCostInBytes" -> "0") {
          WordCount.fromDirectory(spark, dir.toString).as[(String, Long)].collect().toMap
        }
        if (got == want) None
        else Some(s"maxPartitionBytes=$bytes: extra ${got.toSet -- want.toSet}, " +
          s"missing ${want.toSet -- got.toSet}")
      }
      Prop(bad.isEmpty) :| (bad :+ texts.map(t => "\"" + t + "\"").mkString("files ", ", ", "")).mkString("\n")
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8).withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(20261018L)),
      prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("writeCsv: golden bytes — header Word,Count, asc order, single part file") {
    val df = Seq("b a c a").toDF("text")
    val out = tempDir("csvout").resolve("res").toString
    WordCount.writeCsv(WordCount.fromText(df, "text"), out)
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.length === 1, "reference contract: one CSV file (rank-0 write)")
    val content = new String(
      java.nio.file.Files.readAllBytes(parts.head.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(content === "Word,Count\na,2\nb,1\nc,1\n")
  }

  /** A deterministic stand-in for the reference's `words.txt`: accented
    * vowels, hyphen/apostrophe words, every one of the 36 delimiters in
    * runs of 1–3, LF and CRLF line ends, and 10,000-byte tokens. */
  private def goldenCorpus(seed: Int, lines: Int): String = {
    val rnd = new scala.util.Random(seed)
    val words = Vector("naïve", "Café", "ÀÉÎÕÜ", "über", "Straße", "àèìòù", "ÁÉÍÓÚ",
      "d'acqua", "l'été", "well-known", "rock'n'roll", "Hello", "WORLD", "MiXeD",
      "2026", "x1", "señor", "ÑANDÚ")
    val delims = graft.tok.Tokenizer.DefaultDelimiters.toVector.sorted
    val sb = new StringBuilder
    for (i <- 0 until lines) {
      for (k <- 0 until 1 + rnd.nextInt(10)) {
        if (k > 0) (0 to rnd.nextInt(3)).foreach(_ => sb.append(delims(rnd.nextInt(delims.size))))
        sb.append(words(rnd.nextInt(words.size)))
      }
      if (i % 1000 == 7) sb.append(' ').append("Ab" * 5000).append(' ').append("É" * 5000)
      sb.append(if (rnd.nextBoolean()) "\r\n" else "\n")
    }
    delims.foreach(d => sb.append("w").append(d)) // every delimiter at least once
    sb.toString
  }

  private lazy val golden: (java.nio.file.Path, String) = {
    val files = Seq("words.txt" -> goldenCorpus(1, 4000), "more.txt" -> goldenCorpus(2, 1500))
    val dir = tempDir("golden")
    files.foreach { case (name, text) => writeFile(dir, name, text) }
    val counts = byteWalkerCounts(
      files.map(_._2.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    // the delimiter set splits hyphen/apostrophe words (d'acqua → d, acqua)
    assert(counts.contains("acqua") && counts.contains("rock") && !counts.contains("well-known"))
    assert(counts.contains("ab" * 5000) && counts.contains("é" * 5000))
    assert(counts.values.sum >= 5500L, "at least one token per corpus line")
    dir -> ("Word,Count\n" + counts.toSeq.sortBy(_._1).map { case (w, c) => s"$w,$c\n" }.mkString)
  }

  for (codegen <- Seq(true, false))
    test(s"golden end-to-end: CSV over a generated words corpus (codegen=$codegen)") {
      val (dir, expected) = golden
      val out = tempDir("goldenOut").resolve("res").toString
      withConf(codegenConfs(codegen): _*) {
        WordCount.writeCsv(WordCount.fromDirectory(spark, dir.toString), out)
      }
      val part = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
        .head
      val produced = new String(
        java.nio.file.Files.readAllBytes(part.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(produced === expected)
    }

  test("fromDirectory plans one native lower_tokens, no split, no filter lambda, generator in codegen") {
    val dir = tempDir("planShape")
    writeFile(dir, "a.txt", "Plan shape, please")
    val df = WordCount.fromDirectory(spark, dir.toString)
    df.collect()
    val exprs = collectPlanNodes(df.queryExecution.executedPlan).flatMap(_.expressions)
      .flatMap(_.collect { case e => e })
    assert(exprs.exists(_.isInstanceOf[graft.expr.LowerTokens]))
    assert(!exprs.exists(e => e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.StringSplit] ||
      e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ArrayFilter] ||
      e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.LambdaFunction]))
    // no codegen fallback left: the generator joins the partial aggregate's
    // whole-stage-codegen stage
    assert(collectPlanNodes(df.queryExecution.executedPlan).exists {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        w.child.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
      case _ => false
    })
  }

  test("empty input dir yields an empty result (engine side of exit-1 contract)") {
    val dir = tempDir("emptyc")
    writeFile(dir, "a.txt", ",,, ...")
    assert(WordCount.fromDirectory(spark, dir.toString).count() === 0L)
  }
}
