package graft.wc

import graft.SparkSpec

/** The reference's composed pipeline: counting semantics, the text-dir
  * source, per-file lineage, the CSV sink byte contract, and a property
  * against a byte-walker oracle that covers the partition invariance the
  * reference spends `word_count_mpi.c:259-325` hand-building (SURVEY §2.3
  * items 1–10).
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

  /** Ground truth for the property and the golden corpus: each file is its
    * own byte stream, split at the bytes of `delims` (all ASCII, so a
    * delimiter byte never sits inside a UTF-8 sequence), each token decoded
    * and lowercased with `Locale.ROOT`. A byte is looked up lowercased
    * (`A–Z` → `a–z`): delimiters are matched against the lowercased code
    * point, so a delimiter `x` also splits `X` (SURVEY §2.4); the corpora
    * hold no non-ASCII character that lowercases to ASCII. Shares no code
    * with the engine's tokenizer. */
  private def byteWalkerCounts(files: Seq[Array[Byte]],
      delims: Set[Char] = graft.tok.Tokenizer.DefaultDelimiters): Map[String, Long] = {
    val isDelim = new Array[Boolean](256)
    delims.foreach(c => isDelim(c.toInt) = true)
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    val tok = new java.io.ByteArrayOutputStream
    def flush(): Unit = if (tok.size > 0) {
      val w = new String(tok.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        .toLowerCase(java.util.Locale.ROOT)
      counts.update(w, counts.getOrElse(w, 0L) + 1L)
      tok.reset()
    }
    files.foreach { bytes =>
      bytes.foreach { b =>
        val lowered = if (b >= 'A' && b <= 'Z') b + ('a' - 'A') else b & 0xff
        if (isDelim(lowered)) flush() else tok.write(b)
      }
      flush()
    }
    counts.toMap
  }

  /** SURVEY §2.3 items 1–10 as a property, the partition invariance the
    * reference hand-builds (`word_count_mpi.c:259-325`) included: over
    * random corpora of 1–4 files (ASCII alphanumerics, `é`/`É`, all 36
    * default delimiters, LF and CRLF; some files one line of 4 KiB or more
    * with no newline, so splits land inside a line), under the default
    * delimiters or a random delimiter file (whitespace plus printable ASCII
    * bytes, letters included; always a delimiter that ends a one-line
    * file), the counts equal the byte walker's at three split sizes drawn
    * from [1, 4096] B ∪ {1 MiB}. Each file ends in a delimiter: §2.3
    * defines no word that spans two files. */
  test("property: fromDirectory counts == byte-walker oracle at any split size") {
    import org.scalacheck.{Gen, Prop, Test}
    val defaults = graft.tok.Tokenizer.DefaultDelimiters.toVector.sorted.map(_.toString)
    val delimByte = Gen.oneOf('!' to '~')
    val delimFile: Gen[Option[String]] =
      Gen.option(Gen.choose(1, 8).flatMap(Gen.listOfN(_, delimByte)).map(_.mkString))
    def inline(ds: Seq[String]): Seq[String] = ds.filterNot(Set("\n", "\r"))
    def fragment(delims: Seq[String], newlines: Boolean): Gen[String] = Gen.frequency(
      6 -> Gen.oneOf("a", "A", "b", "B", "1", "é", "É"),
      3 -> Gen.alphaNumChar.map(_.toString),
      3 -> Gen.oneOf(if (newlines) defaults else inline(defaults)),
      2 -> Gen.oneOf(if (newlines) delims else inline(delims)),
      (if (newlines) 1 else 0) -> Gen.oneOf("\n", "\r\n"))
    def file(delims: Seq[String]): Gen[String] = for {
      long <- Gen.frequency(2 -> false, 1 -> true)
      n <- if (long) Gen.choose(4096, 6144) else Gen.choose(0, 2000)
      body <- Gen.listOfN(n, fragment(delims, newlines = !long))
      end <- Gen.oneOf(if (long) inline(delims) else delims)
    } yield body.mkString + end
    val splitBytes: Gen[Int] =
      Gen.frequency(3 -> Gen.choose(1, 4096), 1 -> Gen.const(1 << 20))
    val cases = for {
      dfile <- delimFile
      delims = dfile.fold(graft.tok.Tokenizer.DefaultDelimiters)(d =>
        graft.tok.Tokenizer.WhitespaceDelimiters ++ d)
      texts <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, file(delims.toVector.sorted.map(_.toString))))
      splits <- Gen.listOfN(3, splitBytes)
    } yield (dfile, delims, texts, splits)
    val prop = Prop.forAllNoShrink(cases) { case (dfile, delims, texts, splits) =>
      val dir = tempDir("wcProp")
      texts.zipWithIndex.foreach { case (t, i) => writeFile(dir, s"f$i.txt", t) }
      // outside the corpus dir, so the delimiter file is not counted
      val dpath = dfile.map { d =>
        val ddir = tempDir("wcPropDelims")
        writeFile(ddir, "d.txt", d)
        ddir.resolve("d.txt").toString
      }
      val want = byteWalkerCounts(
        texts.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)), delims)
      val bad = splits.flatMap { bytes =>
        val got = withConf("spark.sql.files.maxPartitionBytes" -> bytes.toString,
            "spark.sql.files.openCostInBytes" -> "0") {
          WordCount.fromDirectory(spark, dir.toString, dpath).as[(String, Long)].collect().toMap
        }
        if (got == want) None
        else Some(s"maxPartitionBytes=$bytes: extra ${got.toSet -- want.toSet}, " +
          s"missing ${want.toSet -- got.toSet}")
      }
      Prop(bad.isEmpty) :| (bad ++ dfile.map(d => s"delimiter file \"$d\"") :+
        texts.map(t => "\"" + t.take(200) + "\"").mkString("files ", ", ", "")).mkString("\n")
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

  for (aqe <- Seq(true, false))
    test(s"fromDirectory plans one native lower_tokens, no split, no filter lambda, fused map side (aqe=$aqe)") {
      val dir = tempDir("planShape")
      writeFile(dir, "a.txt", "Plan shape, please")
      withConf("spark.sql.adaptive.enabled" -> aqe.toString) {
        val df = WordCount.fromDirectory(spark, dir.toString)
        assert(df.as[(String, Long)].collect().toSeq === Seq(("plan", 1L), ("please", 1L), ("shape", 1L)))
        val nodes = collectPlanNodes(df.queryExecution.executedPlan)
        val exprs = nodes.flatMap(_.expressions).flatMap(_.collect { case e => e })
        assert(exprs.exists(_.isInstanceOf[graft.expr.LowerTokens]))
        assert(!exprs.exists(e => e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.StringSplit] ||
          e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ArrayFilter] ||
          e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.LambdaFunction]))
        // the partial count is the fused operator: no row per token, no
        // generator and no partial aggregate, under AQE's re-planning too
        assert(fusedMapSide(df))
        assert(df.queryExecution.executedPlan
          .isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec] === aqe)
      }
    }

  /** Fused and unfused word counts agree: `fromText` (planned on the fused
    * map side) against the same count over `explode(filter(split(lower)))`,
    * which the planner rule does not match. Rows mix the property's
    * fragments with Latin-1, `Σ`/`İ`, invalid UTF-8 and null rows; the
    * delimiter sets include letters and U+0080–U+00FF. */
  for (codegen <- Seq(true, false))
    test(s"property: fused word count == unfused explode(filter(split(lower))) (codegen=$codegen)") {
      import org.apache.spark.sql.functions._
      import org.scalacheck.{Gen, Prop, Test}
      import graft.tok.Tokenizer
      import graft.expr.TextGen
      val fragment: Gen[Array[Byte]] = Gen.frequency(
        6 -> Gen.oneOf("a", "A", "b", "B", "1", "é", "É").map(utf8),
        3 -> Gen.alphaNumChar.map(c => utf8(c.toString)),
        3 -> Gen.oneOf(TextGen.asciiFragments),
        2 -> Gen.oneOf(TextGen.nonAsciiFragments))
      val row: Gen[Option[Array[Byte]]] = Gen.frequency(
        12 -> Gen.choose(0, 60).flatMap(Gen.listOfN(_, fragment)).map(fs => Some(fs.toArray.flatten)),
        1 -> Gen.const(None))
      val cases = for {
        rows <- Gen.listOfN(200, row)
        delims <- TextGen.genDelimiters
      } yield (rows, delims)
      val prop = Prop.forAllNoShrink(cases) { case (rows, delims) =>
        val text = rows.toDF("b").select(col("b").cast("string").as("t"))
        val fused = WordCount.fromText(text, "t", delims)
        val unfused = text
          .select(explode(filter(split(lower(col("t")), Tokenizer.charClassRegex(delims)),
            x => length(x) > 0)).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt")).orderBy("word")
        val (got, want) = withConf(codegenConfs(codegen): _*) {
          assert(fusedMapSide(fused) && !fusedMapSide(unfused))
          (fused.as[(String, Long)].collect().toSeq, unfused.as[(String, Long)].collect().toSeq)
        }
        Prop(got == want) :| s"delimiters ${delims.toSeq.sorted.map(_.toInt)}: " +
          s"extra ${(got.toSet -- want).take(5)}, missing ${(want.toSet -- got).take(5)}"
      }
      val res = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(6).withWorkers(1)
          .withInitialSeed(org.scalacheck.rng.Seed(20261019L + (if (codegen) 1 else 0))),
        prop)
      assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    }

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  test("empty input dir yields an empty result (engine side of exit-1 contract)") {
    val dir = tempDir("emptyc")
    writeFile(dir, "a.txt", ",,, ...")
    assert(WordCount.fromDirectory(spark, dir.toString).count() === 0L)
  }
}
