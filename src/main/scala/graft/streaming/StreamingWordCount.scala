package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tok.Tokenizer

/** The reference's one query (`word_count_mpi.c` — delimiter-tokenized,
  * case-insensitive word count) as a Structured Streaming pipeline: each
  * new file under the directory is a micro-batch; the running counts are
  * the aggregation state, hash-partitioned on `word` exactly like the
  * batch exchange. The batch/stream transform is the same code path —
  * tokenization and counting don't know they're streaming (the spec's
  * equivalence lever).
  */
object StreamingWordCount {

  /** Unordered running counts of a (possibly streaming) text frame.
    * No sort: a global ordering is only meaningful at the sink for a
    * streaming frame (complete-mode sinks may sort; see the spec).
    */
  def counts(text: DataFrame, textCol: String = "value",
             delimiters: Set[Char] = Tokenizer.DefaultDelimiters): DataFrame =
    text.select(explode(
        Tokenizer.lowerTokens(col(textCol), delimiters)).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Streaming source over a directory of text files (the reference's
    * corpus contract, incremental: new files join the corpus as they
    * arrive).
    */
  def fromDirectory(spark: SparkSession, path: String): DataFrame =
    counts(spark.readStream.text(path))
}
