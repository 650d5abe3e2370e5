package graft.expr

import graft.SparkSpec
import graft.tok.Tokenizer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** `lower_tokens` against the formulation it replaces,
  * `filter(split(lower(t), charClassRegex(ds)), x -> length(x) > 0)`,
  * kept here as the oracle: random byte strings (valid and invalid UTF-8)
  * under random delimiter sets, with ICU case mapping on and off, in
  * generated and interpreted evaluation.
  */
class LowerTokensSpec extends SparkSpec {
  import spark.implicits._

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Fragments a row is built from. Raw byte arrays carry the invalid
    * UTF-8 cases (`0xFF`, `0xFE`, a lone `0xC3` lead byte). */
  private val nonAsciiFragments: Seq[Array[Byte]] =
    (Seq("Σ", "ΑΣ", "ΟΔΟΣ'", "ΣΑ.", "'Σ", "σ", "ς", "\u0130", "\u212a", "😀", "é", "Ü", "ß",
      "東京") ++ ('À' to 'ÿ').map(_.toString)).map(utf8) ++
      Seq(Array(0xff.toByte), Array(0xfe.toByte), Array(0xc3.toByte), Array('a'.toByte, 0xc3.toByte))
  private val asciiFragments: Seq[Array[Byte]] =
    (Tokenizer.DefaultDelimiters.toSeq.map(_.toString) ++
      Seq("\r\n", "\u0000", "A", "Z", "a", "z", "0", "9", "The", "QUICK", "fox", "x1Y2")).map(utf8)

  private val genAsciiRow: Gen[Array[Byte]] =
    Gen.listOf(Gen.oneOf(asciiFragments)).map(_.toArray.flatten)
  private val genMixedRow: Gen[Array[Byte]] =
    Gen.listOf(Gen.frequency(3 -> Gen.oneOf(asciiFragments), 1 -> Gen.oneOf(nonAsciiFragments)))
      .map(_.toArray.flatten)

  /** Delimiter pool: the defaults, letters of both cases, digits, NUL and
    * U+0080–U+00FF. */
  private val delimiterPool: Seq[Char] =
    Tokenizer.DefaultDelimiters.toSeq ++ ('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++
      Seq('\u0000') ++ ('\u0080' to 'ÿ')
  private val genDelimiters: Gen[Set[Char]] = Gen.frequency(
    1 -> Gen.const(Tokenizer.DefaultDelimiters),
    3 -> Gen.choose(1, 12).flatMap(n => Gen.pick(n, delimiterPool)).map(_.toSet),
    1 -> Gen.choose(1, 6).flatMap(n => Gen.pick(n, delimiterPool))
      .map(_.toSet ++ Tokenizer.WhitespaceDelimiters))

  private case class Batch(rows: Seq[Array[Byte]], delimiterSets: Seq[Set[Char]])
  private val genBatch: Gen[Batch] = for {
    ascii <- Gen.listOfN(60, genAsciiRow)
    mixed <- Gen.listOfN(90, genMixedRow)
    sets <- Gen.listOfN(8, genDelimiters)
  } yield Batch(ascii ++ mixed, sets)

  private def oracle(t: Column, ds: Set[Char]): Column =
    filter(split(lower(t), Tokenizer.charClassRegex(ds)), x => length(x) > 0)

  /** Generated or interpreted evaluation. A local relation would otherwise
    * be folded by the optimizer, which evaluates projections interpreted in
    * either mode. */
  private def evalModes(codegen: Boolean): Seq[(String, String)] =
    ("spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") +: codegenConfs(codegen)

  private def hasCodegenStage(df: DataFrame): Boolean =
    collectPlanNodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[WholeStageCodegenExec])

  /** Token lists of every row under every delimiter set, as bytes. */
  private def tokenBytes(rows: DataFrame, tokens: (Column, Set[Char]) => Column,
                         sets: Seq[Set[Char]]): (DataFrame, Seq[Seq[Option[Seq[Seq[Byte]]]]]) = {
    val t = col("b").cast("string")
    val df = rows.select(sets.map(ds => tokens(t, ds).cast("array<binary>")): _*)
    val got = df.collect().toSeq.map(r => sets.indices.map(j =>
      if (r.isNullAt(j)) None else Some(r.getSeq[Array[Byte]](j).map(_.toSeq))))
    (df, got)
  }

  /** Mismatching rows of one batch, rendered for the failure message. The
    * oracle runs in its own query: its lambda is a codegen fallback, which
    * keeps a projection out of whole-stage codegen. */
  private def mismatches(batch: Batch, codegen: Boolean): Seq[String] = {
    val rows = (batch.rows :+ null).toDF("b")
    val (native, got) = tokenBytes(rows, Tokenizer.lowerTokens, batch.delimiterSets)
    assert(hasCodegenStage(native) === codegen,
      s"codegen=$codegen plan:\n${native.queryExecution.executedPlan}")
    val (_, want) = tokenBytes(rows, oracle, batch.delimiterSets)
    def show(v: Option[Seq[Seq[Byte]]]) =
      v.map(_.map(b => new String(b.toArray, java.nio.charset.StandardCharsets.UTF_8)))
    for {
      ((g, w), i) <- got.zip(want).zipWithIndex
      j <- batch.delimiterSets.indices if g(j) != w(j)
    } yield {
      val bytes = Option(batch.rows.lift(i).orNull).map(_.map(b => f"${b & 0xff}%02x").mkString)
      val ds = batch.delimiterSets(j).toSeq.sorted.map(_.toInt)
      s"row $i bytes=$bytes delimiters=$ds lower_tokens=${show(g(j))} oracle=${show(w(j))}"
    }
  }

  for (icu <- Seq(true, false); codegen <- Seq(true, false))
    test(s"property: lower_tokens == filter(split(lower)) (icu=$icu, codegen=$codegen)") {
      withConf(("spark.sql.icu.caseMappings.enabled" -> icu.toString) +: evalModes(codegen): _*) {
        val prop = Prop.forAllNoShrink(genBatch) { batch =>
          val bad = mismatches(batch, codegen)
          Prop(bad.isEmpty) :| bad.take(5).mkString("\n")
        }
        val res = Test.check(
          Test.Parameters.default.withMinSuccessfulTests(3).withWorkers(1)
            .withInitialSeed(Seed(20261017L + (if (icu) 1 else 0) + (if (codegen) 2 else 0))),
          prop)
        assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
      }
    }

  test("invalid UTF-8 bytes lower to U+FFFD: a\\xFFb and A\\xFEB both count as one word") {
    val df = Seq(Array('a'.toByte, 0xff.toByte, 'b'.toByte), Array('A'.toByte, 0xfe.toByte, 'B'.toByte))
      .toDF("b").select(explode(Tokenizer.lowerTokens(col("b").cast("string"))).as("w"))
      .groupBy("w").count()
    assert(df.as[(String, Long)].collect().toSeq === Seq(("a\uFFFDb", 2L)))
  }

  test("contract: null in gives null out, no null elements, empty runs never emitted") {
    val df = Seq(Some(",,A--b,"), Some(""), None).toDF("t")
      .select(Tokenizer.lowerTokens(col("t")).as("toks"))
    assert(df.schema("toks").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, containsNull = false))
    assert(df.as[Option[Seq[String]]].collect().toSeq ===
      Seq(Some(Seq("a", "b")), Some(Seq.empty), None))
  }

  test("analysis rejects non-string and non-binary-collated input; wide delimiters fail") {
    val df = Seq((1, "x")).toDF("i", "t")
    val notString = intercept[Exception](df.select(call_function("lower_tokens", col("i"))).collect())
    assert(notString.getMessage.contains("lower_tokens"))
    val collated = intercept[Exception](
      df.select(call_function("lower_tokens", collate(col("t"), "UTF8_LCASE"))).collect())
    assert(collated.getMessage.contains("lower_tokens"))
    val wide = intercept[Exception](df.select(Tokenizer.lowerTokens(col("t"), Set('Σ'))).collect())
    assert(wide.getMessage.contains("U+00FF"))
  }

  test("generated code calls the kernel directly, with no interpreted fallback") {
    withConf(evalModes(codegen = true): _*) {
      val df = Seq("Hello, World").toDF("t").select(Tokenizer.lowerTokens(col("t")).as("toks"))
      val code = org.apache.spark.sql.execution.debug
        .codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString("\n")
      assert(code.contains("graft.expr.LowerTokens.tokenize("))
      assert(!code.contains(".eval("), code)
      assert(df.as[Seq[String]].head() === Seq("hello", "world"))
    }
  }
}
