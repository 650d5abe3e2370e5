package graft.tok

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Tokenizer semantics vs the reference contract (SURVEY §2.3 items 1–3):
  * the full 38-byte delimiter set, empty-token suppression, case folding,
  * and the delimiter-file loader (`tokenizer.c:6-45`).
  */
class TokenizerSpec extends SparkSpec {
  import spark.implicits._

  private def tokensOf(s: String, delims: Set[Char] = Tokenizer.DefaultDelimiters): Seq[String] =
    Seq(s).toDF("t")
      .select(Tokenizer.lowerTokens(col("t"), delims).as("toks"))
      .as[Seq[String]].head()

  test("delimiter set is exactly whitespace + the 32 distinct config bytes") {
    assert(Tokenizer.WhitespaceDelimiters === Set(' ', '\t', '\n', '\r'))
    assert(Tokenizer.DefaultConfigDelimiters.size === 32)
    assert(Tokenizer.DefaultDelimiters.size === 36)
  }

  test("default config delimiters byte-match the reference delimiters.txt") {
    // the file's 34 bytes (SURVEY §2.1 O5), no trailing newline
    val bytes = "[][!\"#$%&'()*+,./:;<=>?@\\^_`|{}~-]"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    assert(bytes.length === 34) // [ and ] listed twice in the file
    assert(bytes.map(b => (b & 0xff).toChar).toSet === Tokenizer.DefaultConfigDelimiters)
    val dir = tempDir("delimsRef")
    java.nio.file.Files.write(dir.resolve("delimiters.txt"), bytes)
    assert(Tokenizer.delimitersFromFile(dir.resolve("delimiters.txt").toString) ===
      Tokenizer.DefaultDelimiters)
  }

  test("every one of the 36 delimiters splits a word pair (per-byte table)") {
    // the §5.2 per-delimiter table: for each delimiter d, "ab<d>cd" → [ab, cd]
    for (d <- Tokenizer.DefaultDelimiters)
      assert(tokensOf(s"ab${d}cd") === Seq("ab", "cd"), s"delimiter ${d.toInt}")
  }

  test("non-delimiter bytes never split: alphanumerics and non-ASCII pass through") {
    assert(tokensOf("abc123") === Seq("abc123"))
    assert(tokensOf("naïve café 東京") === Seq("naïve", "café", "東京"))
  }

  test("empty tokens are never emitted (leading/trailing/all-delimiter input)") {
    assert(tokensOf("  ,,hello..world!! ") === Seq("hello", "world"))
    assert(tokensOf(",.;: \t\r\n") === Seq.empty)
    assert(tokensOf("") === Seq.empty)
  }

  test("maximal-run semantics: consecutive mixed delimiters are one split") {
    assert(tokensOf("a,. \t-b") === Seq("a", "b"))
  }

  test("case folding: lowerTokens lowercases before emitting (hash_map.c:27-28)") {
    val toks = Seq("The QUICK brown FoX").toDF("t")
      .select(Tokenizer.lowerTokens(col("t")).as("toks"))
      .as[Seq[String]].head()
    assert(toks === Seq("the", "quick", "brown", "fox"))
  }

  test("charClassRegex escapes class-special chars and is valid Java regex") {
    val tricky = Set('\\', '^', ']', '[', '-', 'a')
    val re = Tokenizer.charClassRegex(tricky)
    // compiles, and matches exactly those chars
    val p = java.util.regex.Pattern.compile(re)
    assert(p.matcher("\\^][-a").matches())
    assert(!p.matcher("b").find())
    assert(tokensOf("x\\y^z]w[v-u", tricky) === Seq("x", "y", "z", "w", "v", "u"))
  }

  test("charClassRegex rejects an empty delimiter set") {
    intercept[IllegalArgumentException] { Tokenizer.charClassRegex(Set.empty) }
  }

  test("delimitersFromFile: whitespace built-ins union config bytes (define_delimiters)") {
    val dir = tempDir("delims")
    writeFile(dir, "d.txt", "@#")
    val ds = Tokenizer.delimitersFromFile(dir.resolve("d.txt").toString)
    assert(ds === Set(' ', '\t', '\n', '\r', '@', '#'))
    // a char NOT in this set (e.g. comma) must not split
    assert(tokensOf("a,b@c d", ds) === Seq("a,b", "c", "d"))
  }
}
