package graft.wc

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.tok.Tokenizer

/** The reference's one composed query — distributed, case-insensitive,
  * delimiter-tokenized word count, output sorted ascending by word
  * (`/root/reference/word_count_mpi.c:391-443`; pipeline decomposition
  * SURVEY §2.1 O1–O11) — rebuilt as a declarative Catalyst plan:
  *
  *   FileScan → Generate(explode(lower_tokens)) →
  *   HashAggregate(partial) → Exchange(hash(word)) → HashAggregate(final) →
  *   Exchange(range) → Sort
  *
  * `lower_tokens` ([[graft.expr.LowerTokens]]) lowercases and splits each
  * line in one native pass and never emits an empty token, so no filter
  * sits between the generator and the partial aggregate.
  *
  * Everything the reference hand-builds (byte-range splits ±1
  * `word_count_mpi.c:246-255`, split-boundary word repair `:296-322`,
  * map-side combine `:344-384`, tree reduce `:147-209`) is the Spark text
  * source + partial aggregation + shuffle, which parallelize the final merge
  * instead of funnelling it through rank 0.
  *
  * Scale posture: no collect, no driver loops; the only full shuffle is the
  * hash exchange on `word` (unavoidable for a global group-by) and the range
  * exchange for the global sort, both of which scale with distinct words, not
  * input bytes, thanks to map-side partial aggregation.
  */
object WordCount {

  /** Typed row mirroring the reference's `cell` struct (`cell.h:1-4`:
    * fixed 30-byte key + int64 count — unbounded string here, SURVEY §2.4).
    */
  case class WordCountRow(word: String, cnt: Long)

  /** Typed view of a word-count result — the `Dataset[WordCount]`
    * convenience layer SURVEY §1.4 commits to for type-safe consumers.
    */
  def typed(wordCounts: DataFrame): Dataset[WordCountRow] = {
    import wordCounts.sparkSession.implicits._
    wordCounts.as[WordCountRow]
  }

  /** Word count over a string column of an arbitrary DataFrame.
    * Output schema: (word string, cnt long), ascending binary order by word
    * (matches the reference's `strcmp` sort, `cell.c:18-20`).
    */
  def fromText(df: DataFrame, textCol: String,
               delimiters: Set[Char] = Tokenizer.DefaultDelimiters): DataFrame =
    df.select(explode(Tokenizer.lowerTokens(col(textCol), delimiters)).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** Word count over a directory of text files — the reference's I/O
    * contract (O1, `word_count_mpi.c:61-99`): the regular files under `path`
    * are one logical byte stream. Names starting with `_` or `.` are
    * skipped by Spark's file index ([[isRead]]), where the reference reads
    * every regular file (SURVEY §2.3 item 10). Spark's text source supplies
    * the stable file enumeration, byte-range splitting, and record-boundary
    * repair the reference hand-rolls (SURVEY §2.1 O2/O3).
    */
  def fromDirectory(spark: SparkSession, path: String,
                    delimiterFile: Option[String] = None): DataFrame =
    fromText(spark.read.text(path), "value",
      delimiterFile.map(Tokenizer.delimitersFromFile).getOrElse(Tokenizer.DefaultDelimiters))

  /** Whether [[fromDirectory]] reads a file of this name: Spark's file
    * index skips names that start with `_` or `.`. */
  def isRead(fileName: String): Boolean =
    !fileName.startsWith("_") && !fileName.startsWith(".")

  /** Per-file word counts — keeps the lineage the reference discards
    * (`input_file_name()` instead of the concatenated-corpus view).
    */
  def perFile(spark: SparkSession, path: String,
              delimiters: Set[Char] = Tokenizer.DefaultDelimiters): DataFrame =
    spark.read.text(path)
      .select(input_file_name().as("file"), col("value"))
      .select(col("file"),
        explode(Tokenizer.lowerTokens(col("value"), delimiters)).as("word"))
      .groupBy("file", "word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("file", "word")

  /** Console sink contract (O12, the sequential binary's output:
    * `cell.c:37-39` prints `Key: %s -- Value: %ld` per row in sorted
    * order, loop `word_count_seq.c:115-120`). The collect IS the operator
    * (O13) — this is a driver-edge sink, bounded by `n` for sanity.
    */
  def renderConsole(wordCounts: DataFrame, n: Int = 1000): Seq[String] =
    wordCounts.orderBy("word").limit(n).collect().toSeq
      .map(r => s"Key: ${r.getString(0)} -- Value: ${r.getLong(1)}")

  def printConsole(wordCounts: DataFrame, n: Int = 1000): Unit =
    renderConsole(wordCounts, n).foreach(println)

  /** CSV sink contract (O11, `word_count_mpi.c:132-142`): single file, header
    * exactly `Word,Count`, rows `word,count`, ascending word order. The
    * `coalesce(1)` is the sink-boundary exception to the no-single-partition
    * rule (SURVEY §7): the reference's contract is one file written by rank 0.
    */
  def writeCsv(wordCounts: DataFrame, outDir: String): Unit =
    wordCounts
      .select(col("word").as("Word"), col("cnt").as("Count"))
      .coalesce(1)
      .write.mode("overwrite").option("header", true).csv(outDir)
}
