package graft.tok

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Configurable-delimiter tokenization, the engine's analogue of the
  * reference tokenizer (`tokenizer.c:47-79` `next_word`) and its delimiter
  * config loader (`tokenizer.c:6-35` `define_delimiters`).
  *
  * Semantics preserved (SURVEY §2.3):
  *   - delimiter set = `{' ','\t','\n','\r'}` (`tokenizer.c:7`) ∪ the bytes of
  *     a config file (default: the 34 bytes of `delimiters.txt`, i.e. all 32
  *     ASCII punctuation chars with `[`/`]` listed twice — set semantics);
  *   - a word is a maximal run of non-delimiter bytes;
  *   - empty tokens are never emitted (`tokenizer.c:62-64,73-74`);
  *   - counting is case-insensitive and keys are emitted lowercased
  *     (`hash_map.c:25-28`) — exposed here as [[lowerTokens]].
  *
  * Implementation is Spark-first: [[lowerTokens]] is the native
  * `lower_tokens` expression ([[graft.expr.LowerTokens]]), which turns the
  * delimiter set into a 256-entry table once, at plan time, and lowercases
  * and splits each row in one pass over its bytes. There is no per-row
  * interpretation of the config (the reference rescans its delimiter array
  * per byte, `tokenizer.c:37-45`).
  */
object Tokenizer {

  /** Built-in whitespace delimiters (`tokenizer.c:7`). */
  val WhitespaceDelimiters: Set[Char] = Set(' ', '\t', '\n', '\r')

  /** Bytes of the reference's default `delimiters.txt` (`delimiters.txt:1`).
    * `[` and `]` appear twice in the file; a Set collapses them.
    */
  val DefaultConfigDelimiters: Set[Char] =
    """][!"#$%&'()*+,./:;<=>?@\^_`|{}~-""".toSet

  /** The reference's effective default delimiter set. */
  val DefaultDelimiters: Set[Char] = WhitespaceDelimiters ++ DefaultConfigDelimiters

  /** `define_delimiters` analogue (`tokenizer.c:11-35`): whitespace built-ins
    * plus every byte of the config file at `path`.
    */
  def delimitersFromFile(path: String): Set[Char] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    WhitespaceDelimiters ++ bytes.map(b => (b & 0xff).toChar)
  }

  /** Compile a delimiter set into a `[...]+` regex character class, escaping
    * the chars that are special inside a Java/RE2 class (`\ ^ ] [ -`).
    * `-` is emitted last (position makes it literal), `^` never first.
    * The same pattern string is valid for DuckDB's RE2, where the oracle
    * SQL tokenizes with it.
    */
  def charClassRegex(delims: Set[Char]): String = {
    require(delims.nonEmpty, "empty delimiter set")
    val (dash, rest) = delims.partition(_ == '-')
    val body = rest.toSeq.sorted.map {
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c if c == '\\' || c == '^' || c == ']' || c == '[' => "\\" + c
      case c => c.toString
    }.mkString
    "[" + body + (if (dash.nonEmpty) "-" else "") + "]+"
  }

  /** The default split regex — the full 36-char reference delimiter set.
    * Only the DuckDB oracle SQL reads it (`graft.queries.OracleSql.Re`); the
    * engine tokenizes with the native `lower_tokens`. */
  val DefaultSplitRegex: String = charClassRegex(DefaultDelimiters)

  /** Lowercased non-empty tokens of a string column, for case-insensitive
    * counting (`hash_map.c:27-28`): the `next_word` loop's maximal
    * non-delimiter runs, empty tokens suppressed. Equal to
    * `filter(split(lower(text), charClassRegex(delimiters)), length > 0)`.
    * C `tolower` is ASCII; we define the semantics as UTF-8 lower
    * (documented divergence, SURVEY §2.4 — identical on ASCII input).
    * Delimiters must be at most U+00FF (bytes of a config file are).
    */
  def lowerTokens(text: Column, delimiters: Set[Char] = DefaultDelimiters): Column =
    call_function("lower_tokens", text, lit(delimiters.mkString))
}
