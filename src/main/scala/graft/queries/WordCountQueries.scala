package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.tok.Tokenizer
import graft.wc.WordCount
import OracleSql._

/** The reference's own query surface (SURVEY §2.1 O1–O11): case-insensitive,
  * delimiter-tokenized word count over `documents.text`, plus the top-k and
  * per-group variants that exercise its sort/limit edges.
  */
object WordCountQueries {

  val queries: Seq[Query] = Seq(
    Query("wc_words", ((s, dir) =>
      WordCount.fromText(Tables.table(s, dir, "documents"), "text")),
      s"""SELECT word, count(*) AS cnt
          FROM (SELECT unnest(string_split_regex(lower(text), '$Re')) AS word
                FROM documents)
          WHERE word <> '' GROUP BY word ORDER BY word"""),
    Query("wc_topk", ((s, dir) =>
      WordCount.fromText(Tables.table(s, dir, "documents"), "text")
        .orderBy(desc("cnt"), asc("word")).limit(20)),
      s"""SELECT word, count(*) AS cnt
          FROM (SELECT unnest(string_split_regex(lower(text), '$Re')) AS word
                FROM documents)
          WHERE word <> '' GROUP BY word
          ORDER BY cnt DESC, word ASC LIMIT 20"""),
    Query("wc_per_lang", ((s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("lang"),
          explode(Tokenizer.lowerTokens(col("text"))).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "word")),
      s"""SELECT lang, word, count(*) AS cnt
          FROM (SELECT lang, unnest(string_split_regex(lower(text), '$Re')) AS word
                FROM documents)
          WHERE word <> '' GROUP BY lang, word ORDER BY lang, word"""),
  )
}
